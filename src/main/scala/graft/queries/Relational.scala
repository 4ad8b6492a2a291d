package graft
package queries

import graft.functions.TextFunctions
import graft.operators._
import graft.queries.Inputs._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational queries: TPC-H-style joins, aggregates, windows and statistics (`q*`). */
object Relational {

  val queries: Seq[(String, Query)] = Seq(
    "q1_agg" -> ((s, d) => {
      // Par.spread: six decimal-sum partials ran serial on the 1-task scan
      Par.spread(T(s, d, "lineitem").select("l_returnflag", "l_linestatus",
          "l_quantity", "l_extendedprice", "l_discount"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          dsum(revenueTerm, 6).as("sum_disc_price"),
          round(dsum(col("l_quantity"), 2).cast("double") / count(lit(1)), 4).as("avg_qty"),
          count(lit(1)).as("count_order")
        )
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q2_pushdown" -> ((s, d) => {
      // filter+project must reach the parquet scan (PushedFilters in explain)
      T(s, d, "lineitem")
        .filter(col("l_quantity") >= 48 && col("l_discount") >= 0.08)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q3_join_topn" -> ((s, d) => {
      // customer is SCALE-PROPORTIONAL (sf·150k rows) — no explicit
      // broadcast hint: AQE auto-broadcasts the segment slice while it
      // fits its size-guarded threshold and shuffle-joins beyond it.
      val cust = T(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      T(s, d, "lineitem")
        .join(T(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(dsum(revenueTerm, 6).as("revenue"))
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"), col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),
    "q4_semijoin" -> ((s, d) => {
      val late = T(s, d, "lineitem").select("l_orderkey", "l_shipdate")
      T(s, d, "orders")
        .join(late, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),
    "q5_multijoin" -> ((s, d) => {
      // nation/region are FIXED-domain (25/5 rows at every SF) — they
      // keep explicit broadcast hints. customer is scale-proportional,
      // so the assembled dim side carries NO hint: AQE auto-broadcasts
      // it while small, shuffle-joins it at 100×.
      val dims =
        T(s, d, "customer")
          .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(T(s, d, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("c_custkey", "n_name")
      T(s, d, "lineitem")
        .join(T(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(dims, col("o_custkey") === col("c_custkey"))
        .groupBy("n_name")
        .agg(dsum(revenueTerm, 6).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    "q6_selective_agg" -> ((s, d) => {
      T(s, d, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(
          dsum(col("l_extendedprice") * col("l_discount"), 6).as("revenue"),
          count(lit(1)).as("n"))
    }),
    "q7_window" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    }),
    "q8_distinct" -> ((s, d) => {
      T(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),
    "q9_antijoin" -> ((s, d) => {
      // customers with no urgent order (anti join on a filtered build side)
      val urgent = T(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      T(s, d, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_nationkey")
    }),
    "q10_topk" -> ((s, d) => {
      T(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    }),
    "q11_having" -> ((s, d) => {
      T(s, d, "lineitem")
        .groupBy("l_partkey")
        .agg(dsum(col("l_quantity"), 2).as("sum_qty"))
        .filter(col("sum_qty") > 900)
        .orderBy("l_partkey")
    }),
    "q12_case_agg" -> ((s, d) => {
      T(s, d, "lineitem")
        .join(T(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("high_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("low_count"))
        .orderBy("l_linestatus")
    }),
    "q13_outerjoin_agg" -> ((s, d) => {
      T(s, d, "customer")
        .join(T(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),
    "q14_union" -> ((s, d) => {
      val e = EV(s, d)
      e.filter(col("event_type").isin("click", "purchase"))
        .unionByName(e.filter(col("event_type").isin("signup", "view")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),
    "q15_rollup" -> ((s, d) => {
      Par.spread(T(s, d, "lineitem").select("l_returnflag", "l_linestatus", "l_quantity"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),
    "q16_pivot" -> ((s, d) => {
      EV(s, d)
        .withColumn("cohort", pmod(col("user_id"), lit(10)))
        .groupBy("cohort")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(dsum(col("value"), 2))
        .orderBy("cohort")
    }),
    "q17_subquery" -> ((s, d) => {
      // correlated-subquery shape: each part vs its brand's average. The
      // average comes from a partial-agged groupBy joined back (AQE
      // broadcasts the |brands|-row table), NOT a partitionBy(p_brand)
      // window — 25 brands over a 100 TB part table would funnel rows/25
      // through single window tasks (round-8 window-key audit).
      val part = T(s, d, "part")
      val avgs = part.groupBy("p_brand").agg(
        (sum(col("p_retailprice").cast("decimal(18,2)")).cast("decimal(38,2)").cast("double")
          / count(lit(1))).as("brand_avg"))
      part.join(broadcast(avgs), Seq("p_brand"))
        .filter(col("p_retailprice") > col("brand_avg"))
        .select("p_partkey", "p_brand", "p_retailprice")
        .orderBy("p_partkey")
    }),
    "q19_percentile" -> ((s, d) => {
      T(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"))
        .orderBy("o_orderstatus")
    }),
    "q20_approx" -> ((s, d) => {
      // approx sketch values differ across engines, so the DRIVER-checked
      // output is (exact count distinct, sketch-within-bounds booleans):
      // the exact column is fully SQL-verifiable and the booleans pin the
      // sketches against their own error guarantees (HLL rsd 5% → 15%
      // margin; approx_percentile at default accuracy → p40..p60 window)
      // two separate aggregations joined on the group key: mixing
      // countDistinct with multiple percentile buffers in ONE agg forces
      // the distinct-rewrite Expand through the object-hash aggregate
      // (measured 375s at sf0.1); split, each is a normal 1-2s shape
      val li = T(s, d, "lineitem")
      val counts = li.groupBy("l_returnflag").agg(
        countDistinct(col("l_partkey")).as("n_parts_exact"),
        approx_count_distinct(col("l_partkey")).as("approx_parts"))
      // ONE exact-percentile buffer for both bounds (array percentile):
      // each percentile(...) agg keeps its own per-group value-counts map
      // through the ObjectHashAggregate — two maps doubled the allocation
      // churn for no information gain
      val pcts = li.groupBy("l_returnflag").agg(
        expr("approx_percentile(l_extendedprice, 0.5)").as("approx_p50"),
        expr("percentile(l_extendedprice, array(0.40, 0.60))").as("p4060"))
        .select(col("l_returnflag"), col("approx_p50"),
          col("p4060")(0).as("p40"), col("p4060")(1).as("p60"))
      counts.join(pcts, "l_returnflag")
        .select(
          col("l_returnflag"),
          col("n_parts_exact"),
          (abs(col("approx_parts") - col("n_parts_exact")) <= col("n_parts_exact") * 0.15).as("parts_ok"),
          col("approx_p50").between(col("p40"), col("p60")).as("p50_ok"))
        .orderBy("l_returnflag")
    }),
    "q18_skewjoin" -> ((s, d) => {
      // skew-resilient aggregation: three grouping keys cover the whole
      // fact table (the hot-key shape); SkewOps.saltedAgg splits each key
      // over 32 salt buckets before the per-key re-aggregation, so no
      // single reducer sees a whole hot group. Result must be identical
      // to the plain groupBy — the oracle computes the plain form.
      SkewOps.saltedAgg(
        T(s, d, "lineitem").select("l_returnflag", "l_quantity"),
        Seq("l_returnflag"),
        saltBuckets = 32,
        partialAggs = Seq(
          sum(col("l_quantity").cast("decimal(18,2)")).as("ps"),
          count(lit(1)).as("pn")),
        finalAggs = Seq(
          sum("ps").cast("decimal(38,2)").cast("double").as("sum_qty"),
          sum("pn").as("n")))
        .orderBy("l_returnflag")
    }),
    "q21_cube" -> ((s, d) => {
      // CUBE: all four grouping-set combinations in one pass (Expand +
      // single shuffle), gid disambiguates the null-vs-subtotal rows
      Par.spread(T(s, d, "lineitem").select("l_returnflag", "l_linestatus", "l_quantity"))
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),
    "q22_setops" -> ((s, d) => {
      // INTERSECT / EXCEPT (distinct set semantics, same as SQL): which
      // customers have BOTH open and finished orders vs open-only. Both
      // ops plan as hash aggregates + one shuffle on the compared column.
      val o = T(s, d, "orders")
      val open = o.filter(col("o_orderstatus") === "O").select("o_custkey")
      val fin = o.filter(col("o_orderstatus") === "F").select("o_custkey")
      open.intersect(fin).withColumn("op", lit("both"))
        .unionByName(open.except(fin).withColumn("op", lit("open_only")))
        .orderBy("op", "o_custkey")
    }),
    "q23_histogram" -> ((s, d) => {
      // fixed-width histogram: one narrow projection + tiny groupBy —
      // the profiling primitive for choosing bucket/partition bounds
      T(s, d, "lineitem")
        .select(floor(col("l_extendedprice") / lit(5000d)).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .withColumn("lo", (col("bin") * 5000).cast("double"))
        .orderBy("bin")
    }),
    "q24_stats" -> ((s, d) => {
      // deterministic corr/stddev: decimal-exact moment sums (order-
      // independent), closed-form combine in a FIXED double expression
      // the oracle mirrors token-for-token. Spark's native corr/stddev
      // accumulate doubles in partition order → not oracle-able.
      StatsOps.exactStats(
          Par.spread(T(s, d, "lineitem").select("l_returnflag", "l_quantity", "l_extendedprice")),
          Seq("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"), scale = 2)
        .orderBy("l_returnflag")
    }),
    "q25_ntile" -> ((s, d) => {
      // equi-height bucketing via NTILE — deterministic because the
      // order is total (acctbal desc, custkey tie-break). 5 segments
      // over a 100 TB customer table make partitionBy(segment) a hot
      // partition, so the tile comes from the grouped banded rank
      // (per-(segment, $256-balance-slab) bounded windows) + the
      // closed-form ntile — same round-8 pattern as q40_rfm.
      val cust = T(s, d, "customer")
        .withColumn("bb", floor(col("c_acctbal").cast("double") / 256.0).cast("long"))
      val ranked = RankOps.groupedBandedRank(cust,
        groupCols = Seq("c_mktsegment"), bandCols = Seq("bb"),
        bandSort = Seq(col("bb").desc),
        rowSort = Seq(col("c_acctbal").desc, col("c_custkey").asc), rankName = "rk")
      val totals = cust.groupBy("c_mktsegment").agg(count(lit(1)).as("n_seg"))
      ranked.join(broadcast(totals), Seq("c_mktsegment"))
        .withColumn("quartile", RankOps.ntileFromRank(col("rk"), col("n_seg"), 4))
        .groupBy("c_mktsegment", "quartile")
        .agg(count(lit(1)).as("n"), min("c_acctbal").as("min_bal"), max("c_acctbal").as("max_bal"))
        .orderBy("c_mktsegment", "quartile")
    }),
    "q26_fuzzy" -> ((s, d) => {
      // fuzzy string matching via deletion-neighborhood blocking
      // (FastSS/SymSpell): complete for edit distance ≤ 1, linear in
      // total string length — the block-join-with-levenshtein-condition
      // alternative measured 50s at sf0.1 (distance evaluated per
      // in-block pair); this runs in under a second and needs no
      // metadata block key at all, so the oracle is the FULL quadratic
      DedupOps.editDistancePairs(T(s, d, "customer"), "c_name", "c_custkey")
        .orderBy("a_id", "b_id")
    }),
    "q27_hof" -> ((s, d) => {
      // array higher-order functions: per-order quantity vector, then
      // filter/aggregate lambdas (codegen-free HOFs but integer-exact,
      // so the oracle can compute the equivalent FILTER aggregation)
      T(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_quantity").cast("int").as("q"))
        .groupBy("l_orderkey").agg(sort_array(collect_list("q")).as("qs"))
        .select(
          col("l_orderkey"),
          size(col("qs")).cast("long").as("n_items"),
          aggregate(filter(col("qs"), _ > 25), lit(0L), (acc, x) => acc + x).as("sum_hi"),
          size(filter(col("qs"), _ > 25)).cast("long").as("n_hi"))
        .orderBy("l_orderkey")
    }),
    "q28_datetime" -> ((s, d) => {
      // temporal rollup: year/month extraction + decimal-exact sums
      T(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy("yr", "mo")
    }),
    "q31_rangeframe" -> ((s, d) => {
      // RANGE window frame: per-user trailing-hour running sum — value
      // depends on the ORDER-key distance, not row count (peers share
      // the frame, so ties are deterministic by construction)
      val e = EV(s, d).filter(col("user_id") % 20 === 0)
        .select(col("user_id"), col("event_id"), expr("ts_us div 1000000").as("ts_s"), col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_s")).rangeBetween(-3600, 0)
      e.withColumn("w_sum",
          sum(col("value").cast("decimal(18,2)")).over(w).cast("decimal(38,2)").cast("double"))
        .withColumn("w_n", count(lit(1)).over(w))
        .drop("value")
        .orderBy("user_id", "ts_s", "event_id")
    }),
    "q32_lateral" -> ((s, d) => {
      // LATERAL correlated subquery: per nation, its top-2 customers by
      // balance — the SQL-level form of per-key top-k (same semantics
      // capPerKey gives the DataFrame API)
      T(s, d, "nation").createOrReplaceTempView("graft_nation")
      T(s, d, "customer").createOrReplaceTempView("graft_customer")
      s.sql("""SELECT n.n_name, t.c_custkey, t.c_acctbal
              |FROM graft_nation n,
              | LATERAL (SELECT c_custkey, c_acctbal FROM graft_customer c
              |          WHERE c.c_nationkey = n.n_nationkey
              |          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
              |ORDER BY n.n_name, t.c_custkey""".stripMargin)
    }),
    "q29_nullsafe" -> ((s, d) => {
      // null-safe equality join (<=>): the null bucket matches the null
      // dim row instead of disappearing — the classic silent-data-loss
      // gap between = and IS NOT DISTINCT FROM
      import s.implicits._
      val e = EV(s, d)
        .withColumn("bucket", expr("nullif(pmod(user_id, 4), 3)"))
      val dim = Seq((Option(0L), "a"), (Option(1L), "b"), (Option(2L), "c"), (Option.empty[Long], "nul"))
        .toDF("bucket", "tag")
      e.join(broadcast(dim), e("bucket") <=> dim("bucket"))
        .groupBy("tag")
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .orderBy("tag")
    }),
    "q30_stragg" -> ((s, d) => {
      // ordered string aggregation (LISTAGG): deterministic via sorted
      // distinct set — one shuffle, tiny output
      T(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),
    "q34_unpivot" -> ((s, d) => {
      // UNPIVOT / melt (the inverse of q16_pivot): wide metric columns →
      // long (metric, value) rows — a pure per-row Expand projection, no
      // shuffle except the final ORDER BY; metrics pre-cast to one type
      // (unpivot requires it, and raw-value double casts are correctly
      // rounded in both engines)
      T(s, d, "lineitem").filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber").cast("int").as("l_linenumber"),
          col("l_quantity").cast("double").as("quantity"),
          col("l_extendedprice").cast("double").as("extendedprice"),
          col("l_discount").cast("double").as("discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric", "value")
    }),
    "q33_zscore" -> ((s, d) => {
      // per-group z-score standardization: decimal-exact (n, Σx, Σx²)
      // moments + one join back; the per-row standardization is a fixed
      // IEEE expression mirrored token-for-token by the oracle
      StatsOps.zscore(
          T(s, d, "customer").filter(col("c_custkey") % 10 === 0)
            .select("c_custkey", "c_mktsegment", "c_acctbal"),
          Seq("c_mktsegment"), col("c_acctbal"))
        .select("c_custkey", "c_mktsegment", "z")
        .orderBy("c_custkey")
    }),
    "q36_groupingsets" -> ((s, d) => {
      // GROUPING SETS: the asymmetric subset cube/rollup can't express —
      // (status, priority), (status), and grand total, one Expand pass
      T(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          dsum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),
    "q35_mad" -> ((s, d) => {
      // robust spread: per-status median absolute deviation (two exact
      // percentile passes; the outlier gate stddev can't provide)
      StatsOps.madByKey(Par.spread(T(s, d, "orders").select("o_orderstatus", "o_totalprice")),
          "o_orderstatus", "o_totalprice")
        .orderBy("o_orderstatus")
    }),

    "q37_mode" -> ((s, d) => {
      // per-user modal event type, deterministic tie-break on the
      // lexicographically smallest type (SQL MODE() leaves ties
      // implementation-defined — this pins them)
      val w = Window.partitionBy("user_id")
        .orderBy(col("mode_cnt").desc, col("mode_type").asc)
      EV(s, d)
        .groupBy(col("user_id"), col("event_type").as("mode_type"))
        .agg(count(lit(1)).as("mode_cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "mode_type", "mode_cnt")
        .orderBy("user_id")
    }),

    "q39_basket_affinity" -> ((s, d) => {
      // market-basket affinity: part pairs co-ordered in one order,
      // expanded by the GUARDED basket idiom (boundedBucketPairs: in-row
      // for baskets ≤1024 — TPC-H orders are ≤7 items — distributed
      // overflow join above, so an adversarial 10⁵-item basket can never
      // materialize m² structs in one row); never a lineitem×lineitem
      // self-join. Top-25 by support via TakeOrdered.
      coOrderPartPairs(s, d)
        .select(col("a").as("part_a"), col("b").as("part_b"))
        .groupBy("part_a", "part_b")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(25)
    }),
    "q38_keyset_pagination" -> ((s, d) => {
      // keyset (seek-method) pagination: the cursor predicate pushes to
      // the scan and the page is a TakeOrdered — OFFSET pagination
      // re-reads everything before the page; this reads only past the
      // cursor. Page 100 after (1000, 2).
      T(s, d, "lineitem")
        .filter(col("l_orderkey") > 1000 ||
          (col("l_orderkey") === 1000 && col("l_linenumber") > 2))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          datediff(col("l_shipdate"), lit("1970-01-01")).as("ship_day"))
        // the synthetic lineitem has duplicate (orderkey, linenumber)
        // pairs — order by EVERY output column so any residual tie is an
        // exact duplicate row and the page is deterministic as a multiset
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "ship_day")
        .limit(100)
    }),
    "q40_rfm" -> ((s, d) => {
      // RFM customer segmentation: recency (days since last order vs the
      // corpus max day), frequency (order count), monetary (decimal-exact
      // spend), each quartiled with a custkey tiebreak so the tiling is
      // a total order (deterministic across engines). ntile(4) is
      // computed CLOSED-FORM from a banded global rank (three
      // RankOps.bandedRankCum passes — bounded-domain r_days/f_orders
      // band with a custkey div 1024 sub-band; near-unique m_total bands
      // on floor(m/1024) alone) + RankOps.ntileFromRank — replacing the
      // three customer-count single-partition ntile sorts.
      val perCust = T(s, d, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")))
               .as("last_day"),
             count(lit(1)).as("f_orders"),
             dsum(col("o_totalprice"), 2).as("m_total"))
      val maxDay = perCust.agg(max("last_day").as("max_day"))
      val nCust = perCust.agg(count(lit(1)).as("n_cust"))
      val base = perCust.crossJoin(broadcast(maxDay)) // 1-row scalar attach
        .withColumn("r_days", (col("max_day") - col("last_day")).cast("long"))
        .withColumn("sub", RankOps.idiv(col("custkey"), 1024))
        .withColumn("mb", floor(col("m_total") / 1024.0).cast("long"))
      val rRank = RankOps.bandedRankCum(base, Seq("r_days", "sub"),
        Seq(col("r_days").asc, col("sub").asc), Seq(col("custkey").asc), Nil, "r_i")
      val fRank = RankOps.bandedRankCum(rRank, Seq("f_orders", "sub"),
        Seq(col("f_orders").desc, col("sub").asc), Seq(col("custkey").asc), Nil, "f_i")
      val mRank = RankOps.bandedRankCum(fRank, Seq("mb"),
        Seq(col("mb").desc), Seq(col("m_total").desc, col("custkey").asc), Nil, "m_i")
      mRank.crossJoin(broadcast(nCust)) // 1-row scalar attach
        .withColumn("r_q", RankOps.ntileFromRank(col("r_i"), col("n_cust"), 4))
        .withColumn("f_q", RankOps.ntileFromRank(col("f_i"), col("n_cust"), 4))
        .withColumn("m_q", RankOps.ntileFromRank(col("m_i"), col("n_cust"), 4))
        .select(col("custkey"), col("r_days"), col("f_orders"), col("m_total"),
          col("r_q"), col("f_q"), col("m_q"),
          concat(col("r_q"), col("f_q"), col("m_q")).as("segment"))
        .orderBy("custkey")
    }),
    "q41_hotkey_join" -> ((s, d) => {
      // manual hot-key split join: the K heaviest fact keys take a
      // broadcast path, the long tail takes the ordinary shuffle path,
      // and the union is invisible to the oracle (= plain join + agg —
      // hot/cold is a PARTITION of keys, so ANY hot set yields the same
      // union). The pattern for skew KNOWN ahead of time — bucketed /
      // pre-shuffled inputs AQE cannot re-split, or a maintained
      // skewed-key stats table. The hot set is a LIMIT-bounded top-K of
      // heavy hitters (the data_skew_report TakeOrdered core), never a
      // count-threshold filter: a threshold admits a fact-proportional
      // key set (count>4 picks ~half of TPC-H orders) and the broadcast
      // OOMs at 100×; top-K caps the broadcast at K rows by construction.
      val K = 100
      val li = T(s, d, "lineitem").select(col("l_orderkey"), revenueTerm.as("rev"))
      val hotKeys = li.groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l_orderkey")).limit(K).select("l_orderkey")
      val dim = T(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      val hotDim = dim.join(broadcast(hotKeys),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      val hot = li.join(broadcast(hotKeys), Seq("l_orderkey"), "left_semi")
        .join(broadcast(hotDim), col("l_orderkey") === col("o_orderkey"))
      val cold = li.join(broadcast(hotKeys), Seq("l_orderkey"), "left_anti")
        .join(dim.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      hot.unionByName(cold)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("rev"), 6).as("revenue"))
        .orderBy("o_orderpriority")
    }),
    "q42_moments" -> ((s, d) => {
      // distribution-shape report: skewness + excess kurtosis per order
      // status from integer-cent power sums — one hash aggregate with
      // map-side partials, closed-form doubles (StatsOps.momentsReport)
      StatsOps.momentsReport(T(s, d, "orders"), "o_orderstatus", "o_totalprice")
    }),
    "q48_cohort_ltv" -> ((s, d) => {
      // cohort lifetime-value curve: customers grouped by first-order
      // month, cumulative revenue per cohort over month age — decimal-
      // exact sums; the cumulative runs on the cohort×age aggregate
      // (calendar² rows), one customer-keyed min and one month rollup
      val ord = T(s, d, "orders").select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"),
        col("o_totalprice").cast("decimal(18,2)").as("v"))
        .transform(Ckpt.lazyCkpt) // cohort min + revenue rollup read it
      val cohorts = ord.groupBy("o_custkey").agg(min("m").as("cohort_m"))
      val cells = ord.join(cohorts, Seq("o_custkey"))
        .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("age"))
        .agg(sum(col("v")).cast("decimal(38,2)").as("rev"))
      val w = Window.partitionBy("cohort_m").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("cum_rev",
          sum(col("rev")).over(w).cast("decimal(38,2)").cast("double"))
        .select(col("cohort_m"), col("age"),
          col("rev").cast("double").as("rev"), col("cum_rev"))
        .orderBy("cohort_m", "age")
    }),
    "q49_otif" -> ((s, d) => {
      // supplier on-time scorecard: ship-lag ≤ 90 days counts as
      // on-time; volume, revenue (decimal-exact) and on-time share per
      // supplier — the fact-to-fact join on orderkey with a supplier
      // rollup; integer ratio, one double division
      val li = T(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          revenueTerm.as("rev_term"))
      val ord = T(s, d, "orders").select(col("o_orderkey").as("l_orderkey"),
        col("o_orderdate"))
      li.join(ord, Seq("l_orderkey"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(datediff(col("l_shipdate"), col("o_orderdate")) <= 90, 1L)
            .otherwise(0L)).as("n_ontime"),
          dsum(col("rev_term"), 6).as("revenue"))
        .select(col("l_suppkey"), col("n_lines"),
          (col("n_ontime").cast("double") / col("n_lines").cast("double")).as("otif"),
          col("revenue"))
        .orderBy("l_suppkey")
    }),
    "q47_setops_all" -> ((s, d) => {
      // bag-semantics set operations (INTERSECT ALL / EXCEPT ALL keep
      // multiplicities — no distinct pass anywhere): customer nations of
      // high- vs low-balance halves, tagged and unioned into one report
      val cust = T(s, d, "customer")
      val hi = cust.filter(col("c_acctbal") >= 0).select(col("c_nationkey"))
      val lo = cust.filter(col("c_acctbal") < 0).select(col("c_nationkey"))
      hi.intersectAll(lo).groupBy("c_nationkey").agg(count(lit(1)).as("n"))
        .withColumn("op", lit("intersect_all"))
        .unionAll(
          hi.exceptAll(lo).groupBy("c_nationkey").agg(count(lit(1)).as("n"))
            .withColumn("op", lit("except_all")))
        .select(col("op"), col("c_nationkey").cast("long").as("nation"), col("n"))
        .orderBy("op", "nation")
    }),
    "q46_equidepth" -> ((s, d) => {
      // equi-DEPTH histogram (the q23 equi-width complement) WITHOUT a
      // global row sort: rows collapse to the (value → count) domain
      // aggregate, the cumulative runs on the two-level banding core
      // (band = v div 2^20 — ~$10k value slabs; o_totalprice cents are
      // near-unique so the old domain-sized single-partition window grew
      // with the data), and bucket = floor(cum_before·nb / n) — exact
      // integer assignment, deterministic min/max bounds per bucket
      val nb = 10
      val counts = T(s, d, "orders")
        .select((col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").as("v"))
        .groupBy("v").agg(count(lit(1)).as("c"))
        .withColumn("vb", RankOps.idiv(col("v"), 1L << 20))
      val tot = counts.agg(sum("c").cast("bigint").as("n"))
      RankOps.bandedRankCum(counts,
          bandCols = Seq("vb"),
          bandSort = Seq(col("vb").asc),
          rowSort = Seq(col("v").asc),
          cumCols = Seq("c"))
        .crossJoin(broadcast(tot)) // 1-row scalar attach
        .withColumn("bucket", expr(s"CAST((cum_before_c * $nb) div n AS INT)"))
        .groupBy("bucket")
        .agg(min("v").as("lo_cents"), max("v").as("hi_cents"),
          sum("c").cast("bigint").as("n_rows"))
        .orderBy("bucket")
    }),
    "q44_joinsize" -> ((s, d) => {
      // planner statistics from sketches: |lineitem ⋈ orders| estimated
      // as the CMS inner product of two per-table sketch rows (min over
      // rows of the counter dot product — NEVER an underestimate,
      // overshoot ≤ n_l·n_o/w per row). The exact count cross-checks it
      // via domain-sized key-count frames (never the join itself): Σ
      // c_l(k)·c_o(k). At 100 TB the estimate path reads two kilobyte
      // sketch rows; no join, no scan.
      import graft.functions.CountMinSketch._
      val D = 4; val Wd = 32768
      val li = T(s, d, "lineitem").select(col("l_orderkey").as("k"))
      val ord = T(s, d, "orders").select(col("o_orderkey").as("k"))
      val skL = li.agg(cms(col("k"), D, Wd).as("sk_l"))
      val skO = ord.agg(cms(col("k"), D, Wd).as("sk_o"))
      val est = skL.crossJoin(broadcast(skO)) // 1-row × 1-row
        .select(cmsInnerProduct(col("sk_l"), col("sk_o"), D, Wd).as("est"))
      val stats = li.groupBy("k").agg(count(lit(1)).as("cl"))
        .join(ord.groupBy("k").agg(count(lit(1)).as("co")), Seq("k"), "full_outer")
        .agg(
          sum(coalesce(col("cl"), lit(0L)) * coalesce(col("co"), lit(0L)))
            .cast("bigint").as("exact"),
          sum(coalesce(col("cl"), lit(0L))).cast("double").as("nl"),
          sum(coalesce(col("co"), lit(0L))).cast("double").as("no"))
      est.crossJoin(broadcast(stats))
        .select(col("exact"),
          (col("est") >= col("exact")).as("lower_ok"),
          (col("est") <= col("exact") + lit(3.0) * col("nl") * col("no") / lit(Wd))
            .as("upper_ok"))
    }),
    "q43_percentrank" -> ((s, d) => {
      // rank-distribution family: percent_rank + cume_dist of supplier
      // balance WITHIN nation, reassembled CLOSED-FORM from the grouped
      // banded rank (25 nations over a 100 TB supplier table make
      // partitionBy(nation) a hot partition — round-8 window-key audit):
      // row_number rk over (acctbal, suppkey); tie groups (nation,
      // acctbal) are bounded, so min/max rk over them is a safe window;
      // pr = (min_rk−1)/(n−1) (SQL RANK semantics), cd = max_rk/n.
      val sup = T(s, d, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
        .withColumn("bb", floor(col("s_acctbal").cast("double") / 256.0).cast("long"))
      val ranked = RankOps.groupedBandedRank(sup,
        groupCols = Seq("s_nationkey"), bandCols = Seq("bb"),
        bandSort = Seq(col("bb").asc),
        rowSort = Seq(col("s_acctbal").asc, col("s_suppkey").asc), rankName = "rk")
      val totals = sup.groupBy("s_nationkey").agg(count(lit(1)).as("n_nat"))
      val peers = Window.partitionBy("s_nationkey", "s_acctbal") // bounded tie groups
      ranked.join(broadcast(totals), Seq("s_nationkey"))
        .withColumn("min_rk", min("rk").over(peers))
        .withColumn("max_rk", max("rk").over(peers))
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"),
          when(col("n_nat") === 1, lit(0.0))
            .otherwise((col("min_rk") - 1).cast("double") / (col("n_nat") - 1).cast("double"))
            .as("pr"),
          (col("max_rk").cast("double") / col("n_nat").cast("double")).as("cd"))
        .orderBy("s_suppkey")
    }),
    "q50_skyline" -> ((s, d) => {
      // Pareto frontier (skyline) of quantity vs price: a point survives
      // iff no other line has ≥ on both dims with one strict. Computed
      // on the QUANTITY-DOMAIN frame (≤50 rows: max price-cents per
      // quantity, strictly-descending running max from the high end) —
      // the fact table is scanned once and never globally sorted.
      val dom = T(s, d, "lineitem")
        .select(col("l_quantity").cast("decimal(18,2)").as("qd"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint").as("pc"))
        .groupBy("qd").agg(max("pc").as("max_pc"))
      val w = Window.orderBy(col("qd").desc).rowsBetween(Window.unboundedPreceding, -1)
      dom // domain-sized single-partition window only
        .withColumn("hi", max("max_pc").over(w))
        .filter(col("hi").isNull || col("max_pc") > col("hi"))
        .select(col("qd").cast("double").as("quantity"), col("max_pc").as("price_cents"))
        .orderBy("quantity")
    }),
    "q51_weighted_median" -> ((s, d) => {
      // exact WEIGHTED median per return flag: the price at which half
      // the total quantity mass sits at-or-below — cumulative integer
      // weights over the (flag, price)-domain frame, never a row sort;
      // the pick is min price with 2·cum ≥ total (lower weighted
      // median, deterministic).
      val dom = T(s, d, "lineitem") // r15: SP spread dropped — the driver's
        // cold-JVM A/B (PERF_r14: 1.6→1.9 s, −16%) contradicted the warm
        // builder A/B that added it; re-measured both ways this round and
        // the spread did not pay for its shuffle here (the partial agg on
        // (flag, pc) already collapses the scan to the ~100k-row domain)
        .select(col("l_returnflag"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint").as("pc"),
          (col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint").as("qc"))
        .groupBy("l_returnflag", "pc").agg(sum("qc").as("wt"))
      val wc = Window.partitionBy("l_returnflag").orderBy("pc")
      dom
        .withColumn("cum", sum("wt").over(wc))
        .withColumn("tot", sum("wt").over(Window.partitionBy("l_returnflag")))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy("l_returnflag")
        .agg((min("pc").cast("double") / 100).as("wmedian_price"))
        .orderBy("l_returnflag")
    }),
    "q53_window_family" -> ((s, d) => {
      // window-function conformance row: first/last/nth value with the
      // explicit whole-partition frame, lag/lead with defaults — the
      // SQL-surface corners the analytic queries don't exercise;
      // nation-bounded sorts only, one window layout serves all five.
      val w = Window.partitionBy("s_nationkey").orderBy(col("s_acctbal"), col("s_suppkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T(s, d, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
        .withColumn("first_bal", first("s_acctbal").over(wf))
        .withColumn("last_bal", last("s_acctbal").over(wf))
        .withColumn("second_bal", nth_value(col("s_acctbal"), 2).over(wf))
        .withColumn("prev_bal", lag("s_acctbal", 1).over(w))
        .withColumn("next_bal", lead("s_acctbal", 1).over(w))
        .orderBy("s_suppkey")
    }),
    "q54_not_in_nulls" -> ((s, d) => {
      // three-valued-logic conformance: `x NOT IN (subquery)` where the
      // subquery yields a NULL is never TRUE (only FALSE/UNKNOWN), so
      // the with-null variant returns 0 rows while the null-free variant
      // filters normally — the classic silent-empty-result trap a SQL
      // engine must reproduce exactly, here pinned as data.
      val orders = T(s, d, "orders")
      val inListNull = orders.filter(col("o_orderkey") < 100)
        .select(expr("nullif(o_orderstatus, 'F')").as("st"))
      val inListClean = orders.filter(col("o_orderkey") < 100)
        .filter(col("o_orderstatus") =!= "F")
        .select(col("o_orderstatus").as("st"))
      // through the SQL path so Catalyst's NOT IN → null-aware anti join
      // rewrite is the thing being exercised (a plain anti join has
      // different null semantics)
      orders.createOrReplaceTempView("graft_q54_orders")
      inListNull.createOrReplaceTempView("graft_q54_null_list")
      inListClean.createOrReplaceTempView("graft_q54_clean_list")
      s.sql("""
        SELECT 'with_null' AS variant, COUNT(*) AS n FROM graft_q54_orders
        WHERE o_orderstatus NOT IN (SELECT st FROM graft_q54_null_list)
        UNION ALL
        SELECT 'no_null' AS variant, COUNT(*) AS n FROM graft_q54_orders
        WHERE o_orderstatus NOT IN (SELECT st FROM graft_q54_clean_list)
        ORDER BY variant""")
    }),
    "q55_join_hints" -> ((s, d) => {
      // join-strategy hint suite: the SAME join+agg computed under
      // broadcast, shuffle-hash and merge hints must agree exactly —
      // three strategies, one contract (the plan spec pins that each
      // hint actually selects its operator). The fourth row is the
      // unhinted AQE choice.
      def one(tag: String, dim: DataFrame) =
        T(s, d, "lineitem").join(dim, col("l_orderkey") === col("o_orderkey"))
          .agg(lit(tag).as("variant"), count(lit(1)).as("n"),
            dsum(revenueTerm, 6).as("revenue"))
      val dim = T(s, d, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"))
      one("1_broadcast", broadcast(dim))
        .unionByName(one("2_shuffle_hash", dim.hint("shuffle_hash")))
        .unionByName(one("3_merge", dim.hint("merge")))
        .unionByName(one("4_aqe", dim))
        .orderBy("variant")
    }),
    "q56_string_funcs" -> ((s, d) => {
      // string-function conformance row over customer names: the
      // portable core (upper/lower/substr/lpad/rpad/replace/reverse/
      // length/instr/repeat/concat_ws) — every derived column is pure
      // projection, one ORDER BY.
      T(s, d, "customer")
        .filter(col("c_custkey") <= 50)
        .select(col("c_custkey"),
          upper(col("c_name")).as("up"),
          lower(col("c_mktsegment")).as("lo"),
          substring(col("c_name"), 3, 8).as("sub"),
          lpad(col("c_name"), 24, "*").as("lp"),
          rpad(col("c_mktsegment"), 12, ".").as("rp"),
          regexp_replace(col("c_name"), "0", "#").as("repl"),
          reverse(col("c_name")).as("rev"),
          length(col("c_name")).cast("bigint").as("len"),
          instr(col("c_name"), "1").cast("bigint").as("pos1"),
          concat_ws("|", col("c_mktsegment"), col("c_name")).as("cw"))
        .orderBy("c_custkey")
    }),
    "q57_null_ordering" -> ((s, d) => {
      // null-ordering conformance: engines DISAGREE on default null
      // placement (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST), so
      // portable sorts must say it explicitly — rank under an explicit
      // NULLS LAST ordering of a nullable key, plus the null count.
      val w = Window.orderBy(col("st").asc_nulls_last, col("o_orderkey"))
      T(s, d, "orders")
        .filter(col("o_orderkey") <= 200)
        .select(col("o_orderkey"), expr("nullif(o_orderstatus, 'F')").as("st"))
        .withColumn("rk", row_number().over(w)) // 200-row bounded window
        .orderBy("o_orderkey")
    }),
    "q58_date_funcs" -> ((s, d) => {
      // calendar-function conformance: month/quarter/week truncation
      // (ISO Monday weeks both engines), last_day, day arithmetic, and
      // datediff — emitted as DATE columns (dates hash portably;
      // timestamps would re-open the µs/NTZ can). Pure projection.
      T(s, d, "orders")
        .filter(col("o_orderkey") <= 100)
        .select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("od"),
          to_date(date_trunc("month", col("o_orderdate"))).as("m_start"),
          to_date(date_trunc("quarter", col("o_orderdate"))).as("q_start"),
          to_date(date_trunc("week", col("o_orderdate"))).as("w_start"),
          last_day(col("o_orderdate")).as("m_end"),
          date_add(to_date(col("o_orderdate")), 30).as("plus30"),
          datediff(to_date(col("o_orderdate")), lit("2024-01-01").cast("date"))
            .cast("bigint").as("days_since"))
        .orderBy("o_orderkey")
    }),
    "q59_array_funcs" -> ((s, d) => {
      // array-function conformance over token arrays (the order-stable
      // subset: sort/distinct-sorted/contains/position/size/slice and an
      // element-wise HOF) — array semantics are where engines silently
      // diverge, so the portable core is pinned as data. Pure projection.
      val tk = TextFunctions.tokensFromNorm(TextFunctions.normText(col("text")))
      TP(s, d, "documents")
        .filter(col("doc_id") <= 60)
        .select(col("doc_id"), tk.as("tk"))
        .select(col("doc_id"),
          size(col("tk")).cast("bigint").as("n_tok"),
          // arrays emit as joined strings — array cells don't hash
          // portably through the parquet/pandas compare (the
          // vec_meanpool precedent)
          concat_ws(",", sort_array(array_distinct(col("tk")))).as("sorted_vocab"),
          array_contains(col("tk"), "the").as("has_the"),
          array_position(col("tk"), "the").cast("bigint").as("pos_the"),
          concat_ws(",", slice(col("tk"), 1, 3)).as("first3"),
          expr("concat_ws(',', transform(slice(tk, 1, 3), x -> cast(length(x) as string)))")
            .as("first3_lens"),
          expr("size(filter(tk, x -> length(x) >= 6))").cast("bigint").as("n_long"))
        .orderBy("doc_id")
    }),
    "q60_runtime_filter_check" -> ((s, d) => {
      // Runtime bloom-filter join pruning (Spark's InjectRuntimeFilter):
      // a selective dim-side predicate materializes a bloom filter that
      // prunes the FACT side before its join shuffle — at 100 TB this is
      // the difference between shuffling the whole fact table and
      // shuffling the matching slice. Real sizes clear the default
      // thresholds; here the plan is proven at toy thresholds (the AQE
      // skew-split precedent) and the boolean rides the result:
      // plan_filtered = optimized plan applies BloomFilterMightContain
      // to l_orderkey under a shuffle join. The data result (revenue of
      // high-priority orders by month) is computed with default confs.
      import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
      val confs = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "64MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      val planFiltered =
        try {
          confs.foreach { case (k, v) => s.conf.set(k, v) }
          val probe = T(s, d, "lineitem")
            .join(T(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT"),
              col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderpriority").agg(dsum(revenueTerm, 6).as("rev"))
          probe.queryExecution.optimizedPlan.exists(
            _.expressions.exists(_.exists(_.isInstanceOf[BloomFilterMightContain])))
        } finally saved.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _))
        }
      T(s, d, "lineitem")
        .join(T(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(expr("CAST(substring(CAST(o_orderdate AS STRING), 1, 7) AS STRING)").as("month"))
        .agg(count(lit(1)).as("n_items"), dsum(revenueTerm, 6).as("revenue"))
        .withColumn("plan_filtered", lit(planFiltered))
        .orderBy("month")
    }),
    "q61_recursive_cte" -> ((s, d) => {
      // Spark 4 RECURSIVE CTE conformance: ancestor closure + chain
      // depth over a synthetic decimal hierarchy (parent = key div 10 —
      // the org-chart/category-tree shape). Scale posture: recursion
      // depth is log₁₀(keyspace), each level one self-referencing step
      // over the frontier — rows×depth total work, no quadratic blowup.
      // DuckDB replays the identical recursion with `//` division.
      T(s, d, "customer").createOrReplaceTempView("r8_cust")
      s.sql("""
        WITH RECURSIVE anc(node, anc, depth) AS (
          SELECT c_custkey, c_custkey div 10, 1 FROM r8_cust
          UNION ALL
          SELECT node, anc div 10, depth + 1 FROM anc WHERE anc > 0
        )
        SELECT node, count(*) AS n_ancestors, max(depth) AS chain_len
        FROM anc GROUP BY node ORDER BY node
      """)
    }),
    "q62_sql_udf" -> ((s, d) => {
      // Spark 4 SQL scalar UDF conformance (CREATE TEMPORARY FUNCTION …
      // RETURN expr): the body is INLINED into the plan by Catalyst, so
      // the UDF costs nothing at 100 TB — same codegen'd decimal
      // arithmetic as writing the expression by hand (unlike a JVM
      // closure UDF, which would block codegen and predicate pushdown).
      // DuckDB has no multi-statement oracle, so its twin inlines the
      // identical expression — which is exactly the semantics claim.
      // IF-absent guard: CREATE OR REPLACE on a rerun (bench cold+warm)
      // logs a "replaced a temporary function" WARN — the conformance
      // claim is the FIRST registration, so re-runs skip it
      if (!s.catalog.functionExists("graft_disc_price")) s.sql("""
        CREATE TEMPORARY FUNCTION graft_disc_price(
          p DECIMAL(12,2), disc DECIMAL(12,2)) RETURNS DECIMAL(18,6)
        RETURN p * (1 - disc)
      """)
      T(s, d, "lineitem").createOrReplaceTempView("r8_li_udf")
      s.sql("""
        SELECT l_returnflag,
          CAST(CAST(SUM(graft_disc_price(l_extendedprice, l_discount)) AS DECIMAL(38,6)) AS DOUBLE) AS disc_revenue,
          COUNT(*) AS n
        FROM r8_li_udf
        WHERE graft_disc_price(l_extendedprice, l_discount) > 1000
        GROUP BY l_returnflag ORDER BY l_returnflag
      """)
    }),
    "q63_pipe_syntax" -> ((s, d) => {
      // Spark 4 SQL pipe-operator conformance (|> WHERE / AGGREGATE /
      // post-agg WHERE / ORDER BY): pipe stages parse to the SAME
      // logical plan as nested SQL — scan-filter pushdown and partial
      // aggregation apply unchanged, so this is pure surface syntax
      // with zero plan cost. DuckDB twin is the equivalent nested SQL.
      T(s, d, "orders").createOrReplaceTempView("r8_ord_pipe")
      s.sql("""
        FROM r8_ord_pipe
        |> WHERE o_orderstatus <> 'P'
        |> AGGREGATE CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total,
                     COUNT(*) AS n_orders
           GROUP BY o_orderpriority
        |> WHERE n_orders > 10
        |> SELECT o_orderpriority, CAST(total AS DOUBLE) AS total, n_orders
        |> ORDER BY o_orderpriority
      """)
    }),
    "q64_trimmed_mean" -> ((s, d) => {
      // per-group 10% two-sided trimmed mean (the robust-mean gate):
      // 3 group keys over raw lineitem rows are exactly the hot-
      // partition class, so the within-group rank comes from the
      // grouped banded core ($2²⁰-cent slabs), trim bounds from exact
      // group counts, and the mean is one fixed integer-cents double
      // division. The sum accumulates in DECIMAL(38,0) from the first
      // row (a LongType sum would wrap silently past ~9·10¹⁶ cents —
      // round-8 advisor item 5); the final long cast is the reported
      // type, overflow-checked by ANSI.
      val li = T(s, d, "lineitem").select(col("l_returnflag"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("cents"),
          col("l_orderkey"), col("l_linenumber"))
        .withColumn("bb", RankOps.idiv(col("cents"), 1L << 20))
      val ranked = RankOps.groupedBandedRank(li,
        groupCols = Seq("l_returnflag"), bandCols = Seq("bb"),
        bandSort = Seq(col("bb").asc),
        rowSort = Seq(col("cents").asc, col("l_orderkey").asc, col("l_linenumber").asc),
        rankName = "rk")
      val totals = li.groupBy("l_returnflag").agg(count(lit(1)).cast("long").as("n_g"))
      ranked.join(broadcast(totals), Seq("l_returnflag"))
        .filter(col("rk") > RankOps.idiv(col("n_g"), 10L) &&
                col("rk") <= col("n_g") - RankOps.idiv(col("n_g"), 10L))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_kept"),
             sum(col("cents").cast("decimal(38,0)")).cast("long").as("sum_cents"))
        .withColumn("trimmed_mean_cents",
          col("sum_cents").cast("double") / col("n_kept").cast("double"))
        .orderBy("l_returnflag")
    }),
    "q65_spearman" -> ((s, d) => {
      // exact tie-averaged Spearman rank correlation per group —
      // monotone-association between quantity (bounded domain,
      // broadcast rank table) and extendedprice (near-unique domain,
      // banded rank table met in a shuffle join). No per-row rank
      // window anywhere; see StatsOps.spearmanByGroup.
      StatsOps.spearmanByGroup(T(s, d, "lineitem"), "l_returnflag",
          col("l_quantity").cast("long"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
          // r15: price cents span ~10^7, so the default 2^20 band gave
          // ~10 bands/flag — the in-band rank windows ran as a handful
          // of ~100k-row sorts. 2^14 yields ~600 balanced bands/flag:
          // same exact ranks, far smaller per-band sorts.
          bandBits = 14)
        .withColumnRenamed("g", "l_returnflag")
        .orderBy("l_returnflag")
    }),
    "q66_jaro_winkler" -> ((s, d) => {
      // blocked fuzzy similarity join on a NATIVE codegen Jaro-Winkler
      // kernel (StringSimExpressions) that returns the similarity as an
      // EXACT RATIONAL {num, den}: the ≥0.9 keep decision is an integer
      // cross-multiplication — no floating-point threshold boundary
      // anywhere. (The one cross-engine FP edge, DuckDB deciding the
      // 0.7 Winkler boost on its double jaro, cannot affect a
      // 0.9-filtered set: a 0.7-boundary pair scores ≤ 0.82.) The
      // reported similarity is ONE final double division + round(6).
      // Candidate generation (DedupOps.jaroWinklerPairs): kernel runs
      // over DISTINCT names blocked by word-level deletion-1 keys —
      // never the within-brand quadratic (round-8 verdict item 2); the
      // full-quadratic oracle certifies zero false negatives on-data.
      DedupOps.jaroWinklerPairs(T(s, d, "part"), "p_name", "p_partkey", "p_brand", 9, 10)
        .select(col("blk").as("p_brand"), col("a_id").as("p1"),
          col("b_id").as("p2"), col("similarity"))
        .orderBy("p_brand", "p1", "p2")
    }),
    "q67_group_order_all" -> ((s, d) => {
      // Spark 4 SQL-surface conformance: GROUP BY ALL (group on every
      // non-aggregate select item) + ORDER BY ALL — pure syntax over
      // the same aggregate plan; DuckDB supports both spellings, so
      // the oracle runs the IDENTICAL text.
      T(s, d, "lineitem").createOrReplaceTempView("r9_li_all")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS qty
        FROM r9_li_all
        GROUP BY ALL
        ORDER BY ALL
      """)
    }),
    "q68_offset" -> ((s, d) => {
      // LIMIT/OFFSET pagination conformance (the ANSI page-2 shape —
      // row 179's keyset pagination is the scale-correct alternative;
      // this row pins the literal syntax both engines agree on):
      // page 3 of orders by price desc, key tie-break
      T(s, d, "orders").createOrReplaceTempView("r10_ord_off")
      s.sql("""
        SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        FROM r10_ord_off
        ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey
        LIMIT 10 OFFSET 20
      """)
    }),
    "q69_agg_filter" -> ((s, d) => {
      // ANSI aggregate FILTER clause conformance (the SQL:2003 syntax
      // both engines parse natively — the CASE-in-agg q12 row pins the
      // rewrite; this row pins the literal syntax): per return flag,
      // selective counts/sums under independent predicates, one scan.
      T(s, d, "lineitem").createOrReplaceTempView("r11_li_filter")
      s.sql("""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                 FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_discounted,
               COUNT(DISTINCT l_suppkey) FILTER (WHERE l_tax = 0) AS n_notax_supp
        FROM r11_li_filter
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """)
    }),
    "q70_ignore_nulls" -> ((s, d) => {
      // IGNORE NULLS window conformance (lag / running last_value /
      // nth_value with explicit null gaps — the gap-fill idiom's
      // literal syntax; row 82's resample+ffill is the operator form)
      T(s, d, "orders").createOrReplaceTempView("r11_ord_in")
      s.sql("""
        SELECT o_custkey, o_orderkey, CAST(price AS DOUBLE) AS price,
               CAST(LAG(price) IGNORE NULLS OVER w AS DOUBLE) AS prev_price,
               CAST(LAST_VALUE(price) IGNORE NULLS OVER
                 (PARTITION BY o_custkey ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS carried,
               CAST(NTH_VALUE(price, 2) IGNORE NULLS OVER
                 (PARTITION BY o_custkey ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE) AS second_seen
        FROM (SELECT o_custkey, o_orderkey,
                CASE WHEN o_orderkey % 3 = 0 THEN NULL
                     ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
              FROM r11_ord_in WHERE o_custkey % 50 = 0)
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        ORDER BY o_custkey, o_orderkey
      """)
    }),
    "q71_interval_months" -> ((s, d) => {
      // calendar INTERVAL arithmetic conformance: add_months with
      // month-END CLAMPING (Jan 31 + 1 mo = Feb 28/29 in both
      // engines), last_day, and a quarter-start truncation — the
      // contract-renewal/billing-cycle date math class
      T(s, d, "orders").createOrReplaceTempView("r11_ord_iv")
      s.sql("""
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
               ADD_MONTHS(CAST(o_orderdate AS DATE), CAST(o_orderkey % 12 AS INT)) AS renewal,
               LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
               CAST(DATE_TRUNC('quarter', CAST(o_orderdate AS DATE)) AS DATE) AS quarter_start
        FROM r11_ord_iv WHERE o_orderkey % 37 = 0
        ORDER BY o_orderkey
      """)
    }),
    "q72_try_arith" -> ((s, d) => {
      // ANSI error-safe arithmetic conformance: try_divide (÷0 → NULL),
      // try_cast (malformed → NULL), try_element_at (out-of-bounds →
      // NULL) — the ingestion-hardening trio that keeps a 100 TB batch
      // alive when a handful of rows are dirty, without FAILFAST or a
      // permissive-mode rescan. Aggregated to null counts + a guarded
      // sum so the row count stays O(groups).
      T(s, d, "lineitem").createOrReplaceTempView("r11_li_try")
      s.sql("""
        WITH t AS (
          SELECT l_returnflag,
                 try_divide(CAST(l_extendedprice AS DOUBLE), CAST(l_linenumber - 3 AS DOUBLE)) AS dv,
                 try_cast(CASE WHEN l_linenumber % 2 = 0 THEN CAST(CAST(l_quantity AS BIGINT) AS STRING) ELSE 'n/a' END AS INT) AS tc,
                 try_element_at(array(1, 2, 3), CAST(l_linenumber AS INT)) AS el
          FROM r11_li_try)
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               COUNT(CASE WHEN dv IS NULL THEN 1 END) AS n_div_null,
               COUNT(CASE WHEN tc IS NULL THEN 1 END) AS n_cast_null,
               COUNT(CASE WHEN el IS NULL THEN 1 END) AS n_elem_null,
               CAST(SUM(tc) AS BIGINT) AS sum_cast
        FROM t GROUP BY l_returnflag ORDER BY l_returnflag
      """)
    }),
    "q73_lateral_alias" -> ((s, d) => {
      // lateral column alias conformance (Spark 3.4+/ANSI surface): a
      // SELECT item referencing a SIBLING alias (x → y → z chains)
      // parses into the same nested-projection plan — pure syntax, zero
      // plan cost; the DuckDB twin spells the expansion out.
      T(s, d, "orders").createOrReplaceTempView("r11_ord_lca")
      s.sql("""
        SELECT o_orderkey, CAST(base AS DOUBLE) AS base,
               CAST(doubled AS DOUBLE) AS doubled,
               CAST(tripled AS DOUBLE) AS tripled
        FROM (SELECT o_orderkey,
                     CAST(o_totalprice AS DECIMAL(18,2)) AS base,
                     base * 2 AS doubled,
                     doubled + base AS tripled
              FROM r11_ord_lca WHERE o_orderkey % 53 = 0)
        ORDER BY o_orderkey
      """)
    }),
    "q75_identifier_clause" -> ((s, d) => {
      // IDENTIFIER() clause conformance (Spark 3.4+ templating surface:
      // a string-typed table reference planned like the literal name —
      // SQL-injection-safe dynamic table selection). DuckDB twin reads
      // the table directly.
      T(s, d, "orders").createOrReplaceTempView("r11_ord_idf")
      s.sql("""SELECT o_orderpriority, COUNT(*) AS n_orders
               FROM IDENTIFIER('r11_ord_idf')
               WHERE o_orderstatus = 'F'
               GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),
    "q74_execute_immediate" -> ((s, d) => {
      // EXECUTE IMMEDIATE + named parameter marker conformance (the
      // SQL-scripting surface): the statement string is planned like
      // the inline query — pushdown/partial agg unchanged, pure
      // syntax. DuckDB twin is the substituted plain SQL.
      T(s, d, "orders").createOrReplaceTempView("r11_ord_ei")
      s.sql("""EXECUTE IMMEDIATE
        'SELECT o_orderpriority, COUNT(*) AS n_orders,
                CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
         FROM r11_ord_ei WHERE o_totalprice > :t
         GROUP BY o_orderpriority ORDER BY o_orderpriority'
        USING 150000.0 AS t""")
    }),
    "q76_grouping_id" -> ((s, d) => {
      // GROUPING()/GROUPING_ID() conformance: the subtotal-row
      // DISCRIMINATORS every BI layer reads off a CUBE — q21 pins the
      // cube shape, this row pins the indicator functions themselves
      // (which NULLs are "all" vs data NULLs). DuckDB spells
      // GROUPING_ID as multi-arg GROUPING(a, b) — same bitmask.
      T(s, d, "lineitem").createOrReplaceTempView("r12_li_gid")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
               CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM r12_li_gid
        GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag, l_linestatus
      """)
    }),
    "q77_timestamp_arith" -> ((s, d) => {
      // TIMESTAMPADD/TIMESTAMPDIFF conformance (the SQL:2016 spellings
      // of the q71 interval class, time-of-day precision): hour-grain
      // add and day/hour-grain diffs against a fixed anchor. Output
      // timestamps as epoch-µs (§4 rule: never raw timestamps).
      T(s, d, "orders").createOrReplaceTempView("r12_ord_ts")
      s.sql("""
        SELECT o_orderkey,
               UNIX_MICROS(TIMESTAMPADD(HOUR, CAST(o_orderkey % 48 AS INT),
                 CAST(o_orderdate AS TIMESTAMP))) AS due_us,
               TIMESTAMPDIFF(DAY, TIMESTAMP '1995-01-01 00:00:00',
                 CAST(o_orderdate AS TIMESTAMP)) AS days_from_anchor,
               TIMESTAMPDIFF(HOUR, CAST(o_orderdate AS TIMESTAMP),
                 TIMESTAMPADD(HOUR, CAST(o_orderkey % 48 AS INT),
                   CAST(o_orderdate AS TIMESTAMP))) AS lead_hours
        FROM r12_ord_ts WHERE o_orderkey % 41 = 0
        ORDER BY o_orderkey
      """)
    }),
    "q78_regexp_funcs" -> ((s, d) => {
      // regexp-function conformance over the shared RE subset both
      // engines' RE dialects (Java util.regex vs RE2-ish) agree on —
      // character classes, +, anchors-free extraction: extract the
      // first number run, squash digit runs, count vowel runs, flag
      // the pattern's presence. The text-cleanup workhorse functions.
      T(s, d, "part").createOrReplaceTempView("r12_part_re")
      s.sql("""
        SELECT p_partkey,
               regexp_extract(p_name, '([aeiou]+)', 1) AS first_vowels,
               regexp_replace(p_name, '[aeiou]+', '_') AS squashed,
               CAST(regexp_count(p_name, '[aeiou]+') AS BIGINT) AS vowel_runs,
               (p_name RLIKE 'o[a-z]*e') AS has_oe_bridge
        FROM r12_part_re WHERE p_partkey % 17 = 0
        ORDER BY p_partkey
      """)
    }),
    "q79_percentile_disc" -> ((s, d) => {
      // PERCENTILE_DISC conformance (WITHIN GROUP ordered-set syntax):
      // the DISCRETE quantile — an actual data element, no
      // interpolation float — which is exactly why it's the safe
      // cross-engine quantile (row 31's exact percentile pins the
      // CONT form's interpolation separately). DuckDB's quantile_disc
      // uses a different index rule (floor((n−1)p) vs Spark's
      // smallest-cume_dist ≥ p), so the oracle replays Spark's ANSI
      // definition via integer cume counts — same answer, provably.
      // spread view: the three PERCENTILE_DISC buffers accumulate the whole
      // column per group inside the partial aggregate — serial on the
      // 1-task single-file scan (7.6 s of serial CPU measured at sf0.1)
      Par.spread(T(s, d, "lineitem").select("l_returnflag", "l_extendedprice"))
        .createOrReplaceTempView("r12_li_pdisc")
      s.sql("""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS p25,
               PERCENTILE_DISC(0.5)  WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
               PERCENTILE_DISC(0.9)  WITHIN GROUP (ORDER BY l_extendedprice) AS p90
        FROM r12_li_pdisc
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """)
    }),
    "q80_posexplode" -> ((s, d) => {
      // generator/table-function conformance: posexplode (0-based) and
      // explode over a computed array, with the generator's ordinal
      // participating in downstream arithmetic — DuckDB's unnest WITH
      // ORDINALITY is 1-based, the oracle subtracts. The LATERAL VIEW
      // class every nested-data pipeline leans on.
      T(s, d, "part").createOrReplaceTempView("r12_part_pe")
      s.sql("""
        SELECT p_partkey, pos, word,
               length(word) AS word_len,
               pos * 100 + length(word) AS ordinal_code
        FROM (SELECT p_partkey, p_name FROM r12_part_pe WHERE p_partkey % 29 = 0)
        LATERAL VIEW POSEXPLODE(split(p_name, ' ')) t AS pos, word
        ORDER BY p_partkey, pos
      """)
    }),
    "q81_bitwise_agg" -> ((s, d) => {
      // bitwise-aggregate conformance (bit_and / bit_or / bit_xor +
      // count_if): the flag-mask folding idiom — permission masks,
      // feature-bit unions, parity checks — all order-independent
      // integer folds, exact by construction.
      T(s, d, "lineitem").createOrReplaceTempView("r12_li_bits")
      s.sql("""
        SELECT l_returnflag,
               BIT_AND(CAST(l_suppkey AS BIGINT)) AS mask_and,
               BIT_OR(CAST(l_suppkey AS BIGINT)) AS mask_or,
               BIT_XOR(CAST(l_suppkey AS BIGINT)) AS parity_xor,
               COUNT_IF(l_quantity > 25) AS n_bulk
        FROM r12_li_bits
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """)
    }),
    "q84_explode_outer" -> ((s, d) => {
      // explode_outer / LATERAL VIEW OUTER conformance: rows whose
      // generator input is EMPTY survive with one NULL element — the
      // left-join-shaped generator semantics; plain explode silently
      // DROPS those parent rows (the classic silent-loss bug in
      // flattening pipelines — n_arr in the output makes the parity
      // auditable). Long tokens (> 7 chars) leave many docs with an
      // empty array, so both branches are exercised.
      TP(s, d, "documents").select(col("doc_id"),
          filter(TextFunctions.tokens(col("text")),
            x => length(x) > 7).as("arr"))
        .select(col("doc_id"), size(col("arr")).as("n_arr"),
          explode_outer(col("arr")).as("tok"))
        .orderBy(col("doc_id"), col("tok").asc_nulls_first)
    }),
    "q83_sql_scripting" -> ((s, d) => {
      // Spark 4 SQL scripting conformance (the ISO 9075-4 SQL/PSM-style
      // compound surface: BEGIN / DECLARE / SET / WHILE — the
      // stored-procedure migration path): an exponential threshold
      // search over orders — the smallest power-of-two cents bound T
      // covering ≥90% of orders. Control flow runs on the DRIVER,
      // bounded by log₂(price domain) ≈ 26 iterations; every data step
      // is ONE plain distributed aggregate — the scripting contract at
      // scale (loops never touch rows, queries never loop). DuckDB has
      // no SQL/PSM, so the oracle replays the SAME monotone fixed point
      // declaratively over a powers-of-two domain table.
      s.conf.set("spark.sql.scripting.enabled", "true")
      // The WHILE loop's predicate n_below(T=2^k) is monotone in k, so
      // the search only ever needs the ceil-log2 HISTOGRAM of the cents
      // column: bucket kb = smallest k with cents ≤ 2^k (integer-exact
      // via bit length — length(bin(cents−1)) = floor(log2(cents−1))+1
      // for cents > 1024, clamped to the loop's 1024 start). Materialize
      // that ≤ ~45-row grid ONCE and let every loop iteration count over
      // it, instead of the previous one full orders scan per doubling
      // (~16 scans at sf0.1; at 100 TB each scan is the whole fact
      // table). cents ≤ 2^k ⟺ kb ≤ k, so every SET lands the identical
      // value and the unchanged DuckDB oracle proves equivalence.
      val q83hist = T(s, d, "orders")
        .select((col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").as("cents"))
        .select(when(col("cents") <= 1024L, lit(10))
          .otherwise(length(bin(col("cents") - 1))).as("kb"))
        .groupBy("kb").agg(count(lit(1)).as("c"))
        .transform(Ckpt.eagerCkpt) // the WHILE loop queries it per iteration
      q83hist.createOrReplaceTempView("r14s_orders_hist")
      s.sql("""
        BEGIN
          DECLARE t BIGINT DEFAULT 1024;
          DECLARE kcur INT DEFAULT 10;
          DECLARE n_total BIGINT DEFAULT 0;
          DECLARE n_below BIGINT DEFAULT 0;
          SET n_total = (SELECT sum(c) FROM r14s_orders_hist);
          SET n_below = (SELECT coalesce(sum(c), 0) FROM r14s_orders_hist WHERE kb <= 10);
          WHILE n_below * 10 < n_total * 9 DO
            SET t = t * 2;
            SET kcur = kcur + 1;
            SET n_below = (SELECT coalesce(sum(c), 0) FROM r14s_orders_hist WHERE kb <= kcur);
          END WHILE;
          SELECT t AS t_cents, n_below, n_total;
        END
      """)
    }),
    "q82_named_window" -> ((s, d) => {
      // named WINDOW clause conformance (SQL:2003 <window clause> —
      // define the frame ONCE, consume it from many functions): rank,
      // lag and a running integer-cent sum all ride window w, and
      // Spark plans ONE Sort+Window pass for the shared spec — the
      // clause's point at scale: N functions, one shuffle, one sort.
      // Partition key o_custkey is high-card (§5.1-safe); the default
      // RANGE frame is deterministic because (o_orderdate, o_orderkey)
      // is unique per row, so no RANGE peers exist. DuckDB replays the
      // identical clause.
      T(s, d, "orders").createOrReplaceTempView("r14_orders")
      s.sql("""
        SELECT o_custkey, o_orderkey,
               CAST(rank() OVER w AS BIGINT) AS rk,
               lag(o_orderkey) OVER w AS prev_order,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    OVER w AS BIGINT) AS run_cents
        FROM r14_orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, rk
      """)
    })
  )
}
