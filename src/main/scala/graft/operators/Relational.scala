package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Relational operator inventory: scans, aggregations, distinct, sort/limit,
  * set operations, cube/rollup/grouping sets, holistic aggregates, pivot.
  *
  * Layer-B mapping (SURVEY.md §2.2): all of these are user-expressible
  * `mapfn`/`reducefn` programs on the reference's mechanism
  * (mincemeat.py:167-182); here each is the idiomatic Catalyst-optimizable
  * DataFrame form.
  *
  * Oracle determinism policy (driver hashes values — see repo notes):
  *   - double SUMs go through DECIMAL(18,6) casts: exact, order-independent,
  *     both engines end at DECIMAL(38,4);
  *   - AVG = decimal sum cast to double / count — bit-exact in IEEE;
  *   - MIN/MAX/COUNT and per-row arithmetic with identical expression shape
  *     are bit-exact already;
  *   - interpolated percentiles are cast to a decimal scale strictly wider
  *     than the exact result's scale (ulp-jitter-safe).
  */
object Relational {

  private def dec(c: Column): Column = Parity.dec(c)
  // exact decimal sum, surfaced as double (same bits both engines)
  private def dsum(c: Column): Column = Parity.dsum(c)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Scan + filter + projection: predicate and column pruning must reach
    // the parquet reader (PushedFilters on l_returnflag/l_quantity).
    "q_scan_project" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 45)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))
    }),

    // TPC-H Q1 shape: the canonical partial+final hash aggregation
    // (= the reference's collectfn+reducefn split, mincemeat.py:174-182).
    "q1_agg" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          (dsum(col("l_quantity")).cast(DoubleType) / count(lit(1))).as("avg_qty"),
          (dsum(col("l_extendedprice")).cast(DoubleType) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
    }),

    // TPC-H Q6 shape (forecast revenue): pure scan-aggregate — every
    // predicate (date band, discount band, quantity cap) must reach the
    // parquet reader as PushedFilters and the projection must prune to
    // the 4 referenced columns, so the whole query is one codegen'd scan
    // + partial/final sum with NO shuffle beyond the 1-row final agg.
    // The canary for pushdown health: if this ever reads a full row
    // group's worth of columns, scan pruning regressed everywhere.
    "q_tpch_q6" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-01-01").cast(TimestampType) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))
    }),

    // Distinct over a low-cardinality pair — shuffles once on both keys.
    "q_distinct" -> ((s, dir) =>
      Tables(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()),

    // Exact count-distinct (expansion + two-phase agg under the hood).
    "q_count_distinct" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"))),

    // Approximate count-distinct (HLL++): scale path for 100 TB distincts.
    // No SQL oracle (sketch-specific); rows-only check + unit test bounds.
    "q_approx_distinct" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))),

    // Mergeable-sketch aggregation — the idiom that makes 100-TB distinct
    // counting incremental: each shard (here user_id % 8; in production a
    // day's batch or an executor's partition) folds its rows into a fixed-
    // size HLL sketch, and sketches UNION associatively — the same binary
    // works across 1000 executors or 1000 daily batches without touching
    // raw data again. The estimate is a pure function of the value set
    // (order/partition independent -> deterministic) but algorithm-
    // specific, so rows-only + FunctionsSpec bounds (shard-union == direct
    // sketch, estimate within 5% of exact).
    "q_sketch_union" -> ((s, dir) => {
      val shards = Tables(s, dir, "events")
        .withColumn("shard", col("user_id") % 8)
        .groupBy("shard")
        .agg(hll_sketch_agg(col("event_id")).as("sk"),
          count(lit(1)).as("n_rows"))
      shards.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_distinct_events"),
        sum(col("n_rows")).as("n_rows"))
    }),

    // Global top-k: Catalyst plans TakeOrderedAndProject — no full sort at
    // scale, each partition keeps k rows, driver merges k*numPartitions.
    "q_topk_global" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)),

    // Global sort (range-partitioned exchange + per-partition sort).
    "q_sort_global" -> ((s, dir) =>
      Tables(s, dir, "nation")
        .orderBy(col("n_name"))
        .select("n_nationkey", "n_name", "n_regionkey")),

    // UNION ALL + re-aggregation.
    "q_union_all" -> ((s, dir) => {
      val c = Tables(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val sup = Tables(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      c.unionAll(sup).groupBy("nk").agg(count(lit(1)).as("cnt"))
    }),

    // INTERSECT (distinct semantics in both engines).
    "q_intersect" -> ((s, dir) => {
      val c = Tables(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val sup = Tables(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      c.intersect(sup)
    }),

    // EXCEPT (distinct semantics).
    "q_except" -> ((s, dir) => {
      val c = Tables(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val sup = Tables(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      c.except(sup)
    }),

    // INTERSECT ALL (bag semantics: multiplicity = min of the two sides).
    "q_intersect_all" -> ((s, dir) => {
      val c = Tables(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val sup = Tables(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      c.intersectAll(sup).groupBy("nk").agg(count(lit(1)).as("cnt"))
    }),

    // EXCEPT ALL (bag semantics: multiplicity = left minus right, floor 0).
    "q_except_all" -> ((s, dir) => {
      val c = Tables(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val sup = Tables(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      c.exceptAll(sup).groupBy("nk").agg(count(lit(1)).as("cnt"))
    }),

    // SCD-1 latest-wins upsert (incremental corpus/dataset maintenance):
    // a delta batch replaces matching base rows and keeps the rest. The
    // anti-join + union form is the scale shape: with a small delta, AQE
    // broadcasts the delta key set so the base is a map-side pass (no
    // base shuffle, no full rewrite of unmatched data); a MERGE INTO on
    // a lakehouse table plans the same way. Delta here = every 10th
    // order with a status flip and a price adjustment.
    "q_merge_upsert" -> ((s, dir) => {
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), lit(1).as("version"))
      val delta = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U").as("o_orderstatus"),
          (col("o_totalprice") + lit(100.0)).as("o_totalprice"),
          lit(2).as("version"))
      base.join(delta.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .unionByName(delta)
    }),

    // CDC changelog apply — the lakehouse ingestion core: an ordered
    // insert/update/delete feed is first COMPACTED to the latest op per
    // key (row_number over op_seq — multiple ops on one key collapse to
    // their final state, exercised by the keys that get an update THEN a
    // delete), then merged: base anti-joins away touched keys, surviving
    // updates/inserts union back. Two shuffles total (compaction window
    // + merge join), both on the key — the same plan MERGE INTO compiles
    // to; no base rewrite, no per-row loop. The feed is derived from
    // orders by deterministic rules so the oracle reproduces it exactly.
    "q_cdc_apply" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val o = Tables(s, dir, "orders")
      val upd = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("k"), lit(1L).as("op_seq"), lit("U").as("op"),
          lit("U").as("status"), (col("o_totalprice") + 50.0).as("price"))
      val del = o.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey").as("k"), lit(2L).as("op_seq"), lit("D").as("op"),
          lit(null).cast(StringType).as("status"),
          lit(null).cast(DoubleType).as("price"))
      val ins = o.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") + 2000000000L).as("k"), lit(1L).as("op_seq"),
          lit("I").as("op"), col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"))
      val latest = upd.unionByName(del).unionByName(ins)
        .withColumn("rn", row_number().over(
          W.partitionBy("k").orderBy(col("op_seq").desc, col("op"))))
        .filter(col("rn") === 1).drop("rn", "op_seq")
      val base = o.select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("price"))
      base.join(latest.select("k"), Seq("k"), "left_anti")
        .withColumn("src", lit("base"))
        .unionByName(latest.filter(col("op") =!= "D")
          .withColumn("src", when(col("op") === "I", "insert").otherwise("update"))
          .drop("op"))
    }),

    // k-anonymity audit — the privacy gate before a dataset release: group
    // sizes over the quasi-identifier tuple; any group smaller than k
    // re-identifies its members. One partial-aggregated shuffle on the
    // quasi-identifier key at any scale; suppression/generalization of the
    // flagged groups is the map-only step that follows.
    "q_k_anonymity" -> ((s, dir) =>
      Tables(s, dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("group_size"))
        .withColumn("at_risk", col("group_size") < 5)),

    // unionByName with allowMissingColumns: schema evolution across
    // batches — the old batch lacks a column, the new one adds it; rows
    // align by NAME (positional union would silently mis-bind) and the
    // missing side null-fills.
    "q_union_by_name" -> ((s, dir) => {
      val oldBatch = Tables(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val newBatch = Tables(s, dir, "supplier")
        .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"))
      oldBatch.unionByName(newBatch, allowMissingColumns = true)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_rows"),
          count(col("s_acctbal")).as("n_with_bal"),
          dsum(coalesce(col("s_acctbal"), lit(0.0))).as("bal_sum"))
    }),

    // ROLLUP: hierarchical subtotals; GROUPING() disambiguates NULL rows.
    "q_rollup" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
             dsum(col("l_quantity")).as("sum_qty"),
             grouping(col("l_returnflag")).cast(IntegerType).as("g_rf"),
             grouping(col("l_linestatus")).cast(IntegerType).as("g_ls"))),

    // CUBE: all grouping-set combinations.
    "q_cube" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
             dsum(col("o_totalprice")).as("sum_price"),
             grouping(col("o_orderstatus")).cast(IntegerType).as("g_st"),
             grouping(col("o_orderpriority")).cast(IntegerType).as("g_pr"))),

    // Explicit GROUPING SETS via SQL (Dataset API only exposes cube/rollup).
    "q_grouping_sets" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      """)
    }),

    // Holistic aggregate: exact interpolated per-group quartiles. The
    // reference's reducefn sees the entire value list (mincemeat.py:181);
    // here the grouped bounded histogram walk (Holistic.exactQuantilesBy)
    // computes the SAME type-7 values with ≤ groups×8192 driver-side
    // bucket counts — `percentile` would buffer a third of the corpus per
    // returnflag group on one aggregation buffer. min/max fall out of the
    // walk's stats pass. Cast to a decimal scale wider than the exact
    // result (2dp data -> <=4dp quartiles) for oracle parity.
    "q_percentile" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Holistic.exactQuantilesBy(
          Tables(s, dir, "lineitem"), Seq("l_returnflag"), "l_quantity",
          Seq(0.5, 0.25, 0.75))
        .map(g => (g.key.head.asInstanceOf[String],
          g.qs(0), g.qs(1), g.qs(2), g.lo, g.hi))
        .toDF("l_returnflag", "med_raw", "p25_raw", "p75_raw",
          "min_qty", "max_qty")
        .select(col("l_returnflag"),
          col("med_raw").cast(DecimalType(18, 4)).cast(DoubleType).as("median_qty"),
          col("p25_raw").cast(DecimalType(18, 6)).cast(DoubleType).as("p25_qty"),
          col("p75_raw").cast(DecimalType(18, 6)).cast(DoubleType).as("p75_qty"),
          col("min_qty"), col("max_qty"))
    }),

    // Equi-depth binning — length-curriculum bucketing for training data:
    // exact quartile cutpoints computed ONCE by the bounded histogram
    // walk (Holistic.exactQuantiles — never `percentile`'s whole-column
    // buffer), then inlined as literals so every doc is assigned its
    // bucket map-side in a zero-join scan. Cutpoint comparisons are
    // robust by construction: n_chars is integral, so an interpolated
    // cutpoint is either exactly a data value (frac = 0, bit-equal in
    // both engines) or strictly between two integers (ULP noise can't
    // flip any comparison).
    "q_equidepth" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val Seq(q1, q2, q3) = graft.operators.Holistic.exactQuantiles(
        d, "n_chars", Seq(0.25, 0.5, 0.75))
      d.withColumn("bucket",
          when(col("n_chars") <= lit(q1), 1)
            .when(col("n_chars") <= lit(q2), 2)
            .when(col("n_chars") <= lit(q3), 3)
            .otherwise(4))
        .select(col("doc_id"), col("n_chars"), col("bucket"))
    }),

    // Pivot as conditional aggregation (same plan shape Spark's
    // groupBy().pivot() lowers to; written explicitly for oracle parity).
    "q_pivot" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy("user_id")
        .agg(
          count(when(col("event_type") === "click", 1)).as("n_click"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
          count(when(col("event_type") === "signup", 1)).as("n_signup"),
          count(when(col("event_type") === "error", 1)).as("n_error"))),

    // List-gathering aggregation — the reference's defining reducefn shape
    // ("the whole value list per key") surfaced driver-safely: sorted
    // distinct values joined to a CSV string (deterministic regardless of
    // arrival order), plus the gather sizes.
    "q_collect_list" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          array_join(array_sort(collect_set(col("l_linestatus"))), ",")
            .as("statuses_csv"),
          size(collect_set(col("l_linestatus"))).as("n_distinct"),
          count(col("l_linestatus")).as("n_values"))),

    // Pearson correlation from exact decimal sums (n, Σx, Σy, Σxy, Σx²,
    // Σy² are exact -> the closed-form double arithmetic is bit-identical
    // in both engines; the built-in corr() is a streaming float fold whose
    // result is partitioning-dependent, so it can't be hash-compared).
    "q_corr_exact" -> ((s, dir) => {
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      // (18,6) per-row casts stay long-backed (price^2 ~1e10 < the 1e12
      // cap); Spark widens the sum's precision so the totals stay exact
      def dsum18(c: Column): Column = Parity.dsum(c)
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsum18(x).as("sx"), dsum18(y).as("sy"),
          dsum18(x * y).as("sxy"),
          dsum18(x * x).as("sxx"),
          dsum18(y * y).as("syy"))
        .select(col("l_returnflag"), col("n"),
          // rounded to 6 decimals: the a*b-c*d shapes differ by 1 ulp
          // across engines (fused multiply-add), same rule as ln/exp in
          // q_math_funcs — never lands on an exact half
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr_qty_price"))
    }),

    // Ordinary-least-squares regression per group (the regr_slope /
    // regr_intercept SQL aggregate family) from the same exact-decimal
    // moment sums as q_corr_exact: one map-combined shuffle, closed-form
    // slope/intercept on the 3-row result. Rounded to 6 decimals for the
    // cross-engine a*b-c*d ulp (fused multiply-add), same rule as corr.
    "q_regression" -> ((s, dir) => {
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      def dsum18(c: Column): Column = Parity.dsum(c)
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsum18(x).as("sx"), dsum18(y).as("sy"),
          dsum18(x * y).as("sxy"), dsum18(x * x).as("sxx"))
        .select(col("l_returnflag"), col("n"),
          round(slope, 6).as("slope"),
          round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
    }),

    // Incremental aggregate maintenance — the daily-ETL pattern that
    // avoids recomputing a 100-TB rollup: the stored rollup keeps exact
    // MERGEABLE partials (count + decimal sum), a delta batch is
    // aggregated alone, and the merge re-aggregates partials by key —
    // delta-sized work, never a full-corpus rescan. The cutoff lands
    // mid-day so one day genuinely has partials on BOTH sides (the merge
    // is exercised, not just a disjoint union). Decimal partials make the
    // merged result bit-equal to the one-shot GROUP BY the oracle runs.
    "q_incr_agg" -> ((s, dir) => {
      val cut = lit("2024-01-24 12:00:00").cast(TimestampType)
      val e = Tables(s, dir, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      def partials(df: DataFrame): DataFrame =
        df.groupBy("event_type", "day")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(DecimalType(18, 6))).as("sv"))
      val base  = partials(e.filter(col("ts") < cut))  // the stored rollup
      val delta = partials(e.filter(col("ts") >= cut)) // today's batch
      base.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(sum(col("cnt")).as("cnt"),
          sum(col("sv")).cast(DoubleType).as("sum_value"))
    }),

    // arg-min/arg-max aggregates: per customer, the cheapest and priciest
    // order keys. Ties broken by the struct's second field (orderkey) so
    // both engines pick the same row deterministically.
    "q_argminmax" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(
          min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
            .as("cheapest_order"),
          min(col("o_totalprice")).as("min_price"),
          max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
            .as("priciest_order"),
          max(col("o_totalprice")).as("max_price"))),

    // The Dataset pivot API proper (q_pivot is the manual count-when
    // form): explicit value list keeps the output schema static, which is
    // also the scale rule — an unlisted pivot collects distinct values to
    // the driver first.
    "q_pivot_api" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("user_id"), col("click").as("n_click"),
          col("purchase").as("n_purchase"), col("signup").as("n_signup"),
          col("error").as("n_error"))),

    // Two-stage salted aggregation: the skew idiom for aggregations whose
    // hottest key would overload one reducer (l_returnflag has only 3
    // values — every row lands on 3 tasks in the naive plan). Stage 1
    // partial-aggs on (key, salt) across 16x more tasks; stage 2 merges
    // the 3*16 partials. Decimal partial sums make the two-stage total
    // bit-equal to the single-stage one, so the plain GROUP BY oracle
    // proves the rewrite is result-transparent — the property a 100-TB
    // retry needs. (Spark's own partial agg does this per-partition;
    // explicit salting ADDS reducer-side spread when distinct keys <
    // shuffle partitions.)
    "q_skew_agg" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(count(lit(1)).as("pc"), sum(dec(col("l_quantity"))).as("ps"))
        .groupBy("l_returnflag")
        .agg(sum(col("pc")).as("n"),
          sum(col("ps")).cast(DoubleType).as("sum_qty"))),

    // Order-independent table checksum — the replication/migration
    // anti-entropy primitive: per-group and whole-table fingerprints
    // that two sides can compute INDEPENDENTLY and compare without
    // shipping rows (q_reconcile is the drill-down once a group
    // mismatches). bit_xor of a per-row md5-derived word is commutative
    // and associative, so the aggregation is partial-combining,
    // partition-order-proof, and never overflows. Only string/integer
    // columns feed the row image: double/timestamp→string rendering is
    // engine-specific and would break cross-engine parity.
    "q_table_checksum" -> ((s, dir) => {
      val rowHash = conv(substring(md5(concat_ws("|",
        col("o_orderkey").cast(StringType),
        col("o_orderstatus"),
        col("o_custkey").cast(StringType),
        col("o_orderpriority"))), 1, 15), 16, 10).cast(LongType)
      Tables(s, dir, "orders")
        .withColumn("h", rowHash)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("group_checksum"))
    }),

    // Stratified deterministic sampling: keep ~10% per event_type via a
    // content-independent md5 bucket of the stable key (same reingest-
    // stable property as q_train_test_split — a row's keep/drop never
    // changes under repartitioning or corpus growth, unlike rand()).
    // Map-only filter + one partial-aggregated shuffle for the report.
    "q_stratified_sample" -> ((s, dir) =>
      Tables(s, dir, "events")
        .withColumn("bucket",
          (Parity.md5Key(col("event_id")) % 100))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"),
          count(when(col("bucket") < 10, 1)).as("n_kept"))
        .withColumn("rate",
          col("n_kept").cast(DoubleType) / col("n_total"))),

    // Unpivot (melt): wide per-row metrics to long (key, metric, value)
    // rows — the feature-table-to-training-examples reshape. Map-only
    // (each input row expands to 4 output rows before any exchange).
    "q_unpivot" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "metric", "value")),

    // Scalar subquery: customers above the global average balance. The
    // threshold is computed once and broadcast (no driver collect); the
    // exact-decimal avg is bit-identical in both engines.
    "q_subquery_scalar" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val thr = c.agg(
        (sum(dec(col("c_acctbal"))).cast(DoubleType) / count(lit(1))).as("avg_bal"))
      c.crossJoin(broadcast(thr))
        .filter(col("c_acctbal") > col("avg_bal"))
        .select("c_custkey", "c_name", "c_acctbal")
    }),

    // Correlated scalar subquery: orders more than 2x their customer's
    // exact-decimal average. Catalyst decorrelates this into an aggregate
    // + join — no per-row re-execution (the naive reading would be O(n^2)
    // at 100 TB; the plan is one extra shuffle on o_custkey).
    "q_subquery_correlated" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("orders_corr")
      s.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders_corr o
        WHERE o_totalprice > 2.0 * (
          SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(*)
          FROM orders_corr o2 WHERE o2.o_custkey = o.o_custkey)
      """)
    }),

    // Uncorrelated IN subquery -> left semi join.
    "q_subquery_in" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val building = Tables(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      o.join(building, o("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
             dsum(col("o_totalprice")).as("sum_price"))
    }),

    // Cross join (genuinely small side only: 5 regions x 3 flags = 15 rows).
    "q_cross_small" -> ((s, dir) => {
      val r = Tables(s, dir, "region").select("r_name")
      val f = Tables(s, dir, "lineitem").select("l_returnflag").distinct()
      r.crossJoin(f)
    }),

    // Declarative data-quality expectations suite (the data-contract /
    // great-expectations shape): range, uniqueness, referential
    // integrity, not-null, freshness, derived-column consistency, and a
    // deliberately-failing minimum-length policy — each check is ONE
    // map-combined aggregate over its table (the RI check is one
    // anti-join count), so the whole suite costs one pass per table at
    // any corpus size and emits a bounded (check, n_checked,
    // n_violations, pass) report.
    "q_expectations" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val cu = Tables(s, dir, "customer")
      val ev = Tables(s, dir, "events")
      val doc = Tables(s, dir, "documents")
      def check(name: String, nChecked: Column, nViol: Column,
          src: DataFrame): DataFrame =
        src.agg(nChecked.cast(LongType).as("n_checked"),
          nViol.cast(LongType).as("n_violations"))
          .select(lit(name).as("check_name"), col("n_checked"),
            col("n_violations"))
      val riViol = o.join(cu, o("o_custkey") === cu("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("v"))
      val checks = Seq(
        check("lineitem_quantity_range", count(lit(1)),
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)), li),
        check("orders_orderkey_unique", count(lit(1)),
          count(lit(1)) - countDistinct(col("o_orderkey")), o),
        check("customer_custkey_not_null", count(lit(1)),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L)), cu),
        // violation iff NO event reaches the cutoff: per-row stale flag,
        // min() = 0 as soon as one fresh row exists; coalesce(…, 1)
        // because an EMPTY table aggregates min to NULL — and no data at
        // all is precisely the freshness failure this check exists for
        check("events_fresh_last_day", lit(1),
          coalesce(min(when(col("ts") >= lit("2024-01-30 00:00:00")
            .cast(TimestampType), 0L).otherwise(1L)), lit(1L)), ev),
        check("documents_nchars_consistent", count(lit(1)),
          sum(when(col("n_chars") =!= length(col("text")), 1L)
            .otherwise(0L)), doc),
        check("documents_min_length_100", count(lit(1)),
          sum(when(col("n_chars") < 100, 1L).otherwise(0L)), doc))
      val ri = riViol.crossJoin(o.agg(count(lit(1)).as("n")))
        .select(lit("orders_custkey_ri").as("check_name"),
          col("n").cast(LongType).as("n_checked"),
          col("v").cast(LongType).as("n_violations"))
      checks.reduce(_ unionAll _).unionAll(ri)
        .withColumn("pass_check", col("n_violations") === 0L)
    }),

    // Dataset profiling — the data-quality pass a pipeline runs on every
    // new drop: per-column row/null/distinct counts and min/max, computed
    // in ONE scan (the multi-count-distinct compiles to a single Expand +
    // partial agg — 4x the scan rows shuffled as pre-aggregated partials,
    // never a per-column pass). stack() reshapes the one wide result row
    // to a row per column. At 100 TB you'd swap the exact distincts for
    // approx_count_distinct and keep the identical one-pass shape; exact
    // here so the profile is oracle-checkable.
    "q_profile" -> ((s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val li = Tables(s, dir, "lineitem").select(cols.map(col): _*)
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
        count(when(col(c).isNull, 1)).as(s"${c}_null"),
        countDistinct(col(c)).as(s"${c}_dist"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max")))
      val stackExpr = cols.map(c =>
        s"'$c', ${c}_null, ${c}_dist, ${c}_min, ${c}_max").mkString(", ")
      li.agg(aggs.head, aggs.tail: _*)
        .selectExpr("n_rows",
          s"stack(${cols.size}, $stackExpr) AS (col_name, n_null, n_distinct, min_v, max_v)")
        .select("col_name", "n_rows", "n_null", "n_distinct", "min_v", "max_v")
    })
  )

  val oracles: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
         l_extendedprice * (1.0 - l_discount) AS net_price
         FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 45""",

    // The four big sums surface through a VARCHAR round-trip instead of
    // a direct decimal->double cast: DuckDB casts DECIMAL(18,6) to
    // DOUBLE as (int64 scaled units -> double) / 1e6 — two roundings —
    // which lands one ulp off correct rounding once the scaled sum
    // exceeds 2^53 (~9e9 with 6 decimals; measured at the sf1 sidecar:
    // sum_charge 27864155010.941590 cast to ...941593 while Spark's
    // BigDecimal.doubleValue — and strtod — correctly round to
    // ...94159). Below 2^53 both paths agree bit-for-bit, so the
    // sf0.01/sf0.1 gates are unchanged.
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
         CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
         CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",

    "q_tpch_q6" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",

    "q_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps
         FROM lineitem GROUP BY l_returnflag""",

    "q_topk_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",

    "q_sort_global" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_name",

    "q_union_all" ->
      """SELECT nk, count(*) AS cnt FROM (
           SELECT c_nationkey AS nk FROM customer
           UNION ALL
           SELECT s_nationkey AS nk FROM supplier
         ) GROUP BY nk""",

    "q_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
         INTERSECT SELECT s_nationkey AS nk FROM supplier""",

    "q_intersect_all" ->
      """SELECT nk, count(*) AS cnt FROM (
           SELECT c_nationkey AS nk FROM customer
           INTERSECT ALL
           SELECT s_nationkey AS nk FROM supplier
         ) GROUP BY nk""",

    "q_except_all" ->
      """SELECT nk, count(*) AS cnt FROM (
           SELECT c_nationkey AS nk FROM customer
           EXCEPT ALL
           SELECT s_nationkey AS nk FROM supplier
         ) GROUP BY nk""",

    "q_merge_upsert" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 1 AS version
         FROM orders WHERE o_orderkey % 10 != 0
         UNION ALL
         SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
           o_totalprice + 100.0 AS o_totalprice, 2 AS version
         FROM orders WHERE o_orderkey % 10 = 0""",

    // Deleted keys (%13, including those also updated) vanish; updates
    // keep %7-only keys; inserts are the re-keyed %11 rows.
    "q_cdc_apply" ->
      """SELECT o_orderkey AS k, o_orderstatus AS status,
           o_totalprice AS price, 'base' AS src
         FROM orders WHERE o_orderkey % 7 != 0 AND o_orderkey % 13 != 0
         UNION ALL
         SELECT o_orderkey AS k, 'U' AS status,
           o_totalprice + 50.0 AS price, 'update' AS src
         FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 != 0
         UNION ALL
         SELECT o_orderkey + 2000000000 AS k, o_orderstatus AS status,
           o_totalprice AS price, 'insert' AS src
         FROM orders WHERE o_orderkey % 11 = 0""",

    "q_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS group_size,
           count(*) < 5 AS at_risk
         FROM customer GROUP BY c_nationkey, c_mktsegment""",

    "q_union_by_name" ->
      """SELECT s_nationkey, count(*) AS n_rows,
           count(s_acctbal) AS n_with_bal,
           CAST(SUM(CAST(COALESCE(s_acctbal, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS bal_sum
         FROM (
           SELECT s_suppkey, s_nationkey, CAST(NULL AS DOUBLE) AS s_acctbal FROM supplier
           UNION ALL
           SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier)
         GROUP BY s_nationkey""",

    "q_except" ->
      """SELECT c_nationkey AS nk FROM customer
         EXCEPT SELECT s_nationkey AS nk FROM supplier""",

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
         CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
         CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
         CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st,
         CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pr
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""",

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",

    "q_equidepth" ->
      """WITH cuts AS (
           SELECT quantile_cont(n_chars, 0.25) AS q1,
                  quantile_cont(n_chars, 0.5)  AS q2,
                  quantile_cont(n_chars, 0.75) AS q3
           FROM documents)
         SELECT doc_id, n_chars,
           CAST(CASE WHEN n_chars <= q1 THEN 1
                     WHEN n_chars <= q2 THEN 2
                     WHEN n_chars <= q3 THEN 3
                     ELSE 4 END AS INTEGER) AS bucket
         FROM documents, cuts""",

    "q_percentile" ->
      """SELECT l_returnflag,
         CAST(CAST(quantile_cont(l_quantity, 0.5) AS DECIMAL(18,4)) AS DOUBLE) AS median_qty,
         CAST(CAST(quantile_cont(l_quantity, 0.25) AS DECIMAL(18,6)) AS DOUBLE) AS p25_qty,
         CAST(CAST(quantile_cont(l_quantity, 0.75) AS DECIMAL(18,6)) AS DOUBLE) AS p75_qty,
         min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
         FROM lineitem GROUP BY l_returnflag""",

    "q_pivot" ->
      """SELECT user_id,
         count(*) FILTER (WHERE event_type = 'click') AS n_click,
         count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
         count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
         count(*) FILTER (WHERE event_type = 'error') AS n_error
         FROM events GROUP BY user_id""",

    "q_collect_list" ->
      """SELECT l_returnflag,
         array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses_csv,
         CAST(count(DISTINCT l_linestatus) AS INTEGER) AS n_distinct,
         count(l_linestatus) AS n_values
         FROM lineitem GROUP BY l_returnflag""",

    "q_corr_exact" ->
      """WITH s AS (
           SELECT l_returnflag, count(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS syy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           round((n * sxy - sx * sy) /
             (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price
         FROM s""",

    // row_number twins of the struct-tie-broken min_by/max_by
    "q_argminmax" ->
      """WITH lo AS (
           SELECT o_custkey, o_orderkey AS cheapest_order,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice, o_orderkey) AS rn
           FROM orders),
         hi AS (
           SELECT o_custkey, o_orderkey AS priciest_order,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
           FROM orders),
         agg AS (
           SELECT o_custkey, min(o_totalprice) AS min_price,
             max(o_totalprice) AS max_price
           FROM orders GROUP BY o_custkey)
         SELECT agg.o_custkey, lo.cheapest_order, agg.min_price,
           hi.priciest_order, agg.max_price
         FROM agg
         JOIN lo ON lo.o_custkey = agg.o_custkey AND lo.rn = 1
         JOIN hi ON hi.o_custkey = agg.o_custkey AND hi.rn = 1""",

    "q_pivot_api" ->
      """SELECT user_id,
         count(*) FILTER (WHERE event_type = 'click') AS n_click,
         count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
         count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
         count(*) FILTER (WHERE event_type = 'error') AS n_error
         FROM events GROUP BY user_id""",

    // Same moment sums / same closed forms as the Spark side, so the
    // pre-round doubles agree bit-for-bit.
    "q_regression" ->
      """WITH s AS (
           SELECT l_returnflag, count(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
             AS intercept
         FROM s""",

    // One-shot GROUP BY over the whole table: the incremental
    // base-partials + delta merge must reproduce this exactly.
    "q_incr_agg" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         count(*) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')""",

    // single-stage GROUP BY: decimal partials make the salted two-stage
    // form bit-equal
    "q_skew_agg" ->
      """SELECT l_returnflag, count(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_returnflag""",

    // DuckDB renders the same row image and xors the same md5 words.
    "q_table_checksum" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
         bit_xor(CAST(('0x' || substring(md5(
           CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
           CAST(o_custkey AS VARCHAR) || '|' || o_orderpriority), 1, 15))
           AS BIGINT)) AS group_checksum
         FROM orders GROUP BY o_orderstatus""",

    "q_stratified_sample" ->
      """SELECT event_type, count(*) AS n_total,
         count(*) FILTER (WHERE
           CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10)
           AS n_kept,
         CAST(count(*) FILTER (WHERE
           CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10)
           AS DOUBLE) / count(*) AS rate
         FROM events GROUP BY event_type""",

    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, metric, value
         FROM (
           SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             'l_quantity' AS metric, l_quantity AS value FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             'l_extendedprice', l_extendedprice FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             'l_discount', l_discount FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             'l_tax', l_tax FROM lineitem)""",

    "q_subquery_scalar" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_acctbal > (
           SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*)
           FROM customer)""",

    "q_subquery_correlated" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
         WHERE o_totalprice > 2.0 * (
           SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(*)
           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)""",

    "q_subquery_in" ->
      """SELECT o_orderstatus, count(*) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
         FROM orders
         WHERE o_custkey IN (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
         GROUP BY o_orderstatus""",

    "q_cross_small" ->
      """SELECT r_name, l_returnflag FROM region
         CROSS JOIN (SELECT DISTINCT l_returnflag FROM lineitem)""",

    "q_expectations" ->
      """WITH checks AS (
           SELECT 'lineitem_quantity_range' AS check_name,
             (SELECT count(*) FROM lineitem) AS n_checked,
             (SELECT CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem) AS n_violations
           UNION ALL
           SELECT 'orders_orderkey_unique',
             (SELECT count(*) FROM orders),
             (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
           UNION ALL
           SELECT 'customer_custkey_not_null',
             (SELECT count(*) FROM customer),
             (SELECT CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) FROM customer)
           UNION ALL
           SELECT 'events_fresh_last_day', 1,
             (SELECT CASE WHEN max(ts) >= TIMESTAMP '2024-01-30 00:00:00'
                THEN 0 ELSE 1 END FROM events)
           UNION ALL
           SELECT 'documents_nchars_consistent',
             (SELECT count(*) FROM documents),
             (SELECT CAST(SUM(CASE WHEN n_chars <> length(text)
                THEN 1 ELSE 0 END) AS BIGINT) FROM documents)
           UNION ALL
           SELECT 'documents_min_length_100',
             (SELECT count(*) FROM documents),
             (SELECT CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END)
                AS BIGINT) FROM documents)
           UNION ALL
           SELECT 'orders_custkey_ri',
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM orders o WHERE NOT EXISTS
                (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)))
         SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
           CAST(n_violations AS BIGINT) AS n_violations,
           n_violations = 0 AS pass_check
         FROM checks""",

    "q_profile" ->
      """SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
           count(*) - count(l_quantity) AS n_null,
           count(DISTINCT l_quantity) AS n_distinct,
           min(l_quantity) AS min_v, max(l_quantity) AS max_v FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
           count(DISTINCT l_extendedprice),
           min(l_extendedprice), max(l_extendedprice) FROM lineitem
         UNION ALL
         SELECT 'l_discount', count(*), count(*) - count(l_discount),
           count(DISTINCT l_discount),
           min(l_discount), max(l_discount) FROM lineitem
         UNION ALL
         SELECT 'l_tax', count(*), count(*) - count(l_tax),
           count(DISTINCT l_tax),
           min(l_tax), max(l_tax) FROM lineitem"""
  )
}
