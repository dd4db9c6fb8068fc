package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Statistical testing / robust-preprocessing operators — the "is this
  * data slice different" and "tame the outliers" tools a curation
  * pipeline runs after the per-row quality gates (reference precedent:
  * holistic `reducefn` folds over a key's full value list,
  * mincemeat.py:179-182 — these are the classic statistics those folds
  * get used for, re-expressed as partial-aggregable moment/count sums so
  * the corpus never ships raw rows to one place).
  *
  * Oracle-parity rules (see AnalyticsSpec / memory conventions): integer
  * counts everywhere possible; decimal(18,6)/(38,10) staging for sums of
  * doubles; cell folds in SORTED key order so both engines add the same
  * IEEE sequence; round(,6) only where a genuine irrational (sqrt/ln)
  * enters.
  */
object Stats {

  private val S = "c_mktsegment"
  private val P = "o_orderpriority"

  /** Shared experiment-arm stage (q_ab_test + q_power_mde): user-grain
    * conversion flags over the user_id-parity arms. ONE definition so
    * the MDE always describes the same experiment the z-test runs.
    */
  private def abArms(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("user_id"), (col("user_id") % 2).cast(LongType).as("grp"))
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > 95.0, 1L).otherwise(0L)).as("converted"))

  /** The matching oracle CTE body, shared by both oracles. */
  private val abArmsSqlCte: String =
    """SELECT user_id, CAST(user_id % 2 AS BIGINT) AS grp,
             CAST(max(CASE WHEN event_type = 'purchase' AND value > 95
               THEN 1 ELSE 0 END) AS BIGINT) AS converted
           FROM events GROUP BY 1, 2"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Chi-square independence test on the mktsegment × orderpriority
    // contingency table (customer ⋈ orders). The fact join shuffles once
    // on custkey, the contingency agg map-combines to r*c = 25 rows, and
    // everything after (row/col totals, expected counts, the chi2 fold)
    // is windowing over that 25-row table — driver-safe at any corpus
    // size. Cell contributions fold in sorted (segment, priority) order
    // so Spark and DuckDB add the same IEEE sequence.
    "q_chisq" -> ((s, dir) => {
      val cells = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col(S).as("seg"), col(P).as("pri"))
        .agg(count(lit(1)).as("cnt"))
        .persist() // the seg/pri margins and the grid join all read it
      // densify to the FULL r×c grid: a structurally-present cell with
      // zero observations still contributes (0−e)²/e = e to the
      // statistic — dropping it (what a bare groupBy does) understates
      // chi² whenever a combination never co-occurs. The fixture is
      // dense, so this is a semantics guarantee, not a value change.
      val grid = cells.select("seg").distinct()
        .crossJoin(cells.select("pri").distinct())
        .join(cells, Seq("seg", "pri"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      val withTotals = grid
        .withColumn("rowtot", sum("cnt").over(Window.partitionBy("seg")))
        .withColumn("coltot", sum("cnt").over(Window.partitionBy("pri")))
        .withColumn("n", sum("cnt").over(Window.partitionBy()))
        .withColumn("r", size(collect_set("seg").over(Window.partitionBy())))
        .withColumn("c", size(collect_set("pri").over(Window.partitionBy())))
        .withColumn("e",
          (col("rowtot") * col("coltot")).cast(DoubleType) / col("n"))
        .withColumn("d", col("cnt").cast(DoubleType) - col("e"))
        .withColumn("contrib", col("d") * col("d") / col("e"))
      withTotals
        .groupBy("n", "r", "c")
        .agg(sort_array(collect_list(struct(col("seg"), col("pri"),
          col("contrib")))).as("cl"))
        .select(col("n"),
          ((col("r") - 1) * (col("c") - 1)).cast(LongType).as("dof"),
          least(col("r") - 1, col("c") - 1).cast(LongType).as("k"),
          // round(,6): the 25-term double fold is ordered identically on
          // both engines, but last-ulp division behavior can still differ
          // across DuckDB builds — surface only the rounded statistic and
          // derive Cramer's V from the ROUNDED chi2 so both engines feed
          // sqrt the same double
          round(aggregate(col("cl"), lit(0.0), (acc, x) => acc + x("contrib")),
            6).as("chi2"))
        .withColumn("cramers_v", round(sqrt(col("chi2") / (col("n") * col("k"))), 6))
        .drop("k")
    }),

    // Welch's two-sample t-test: does BUILDING spend differently from
    // AUTOMOBILE per order? Group moments (n, Σx, Σx²) are ONE
    // map-combined shuffle with exact-decimal partials (x² is an exact
    // IEEE product; the decimal cast rounds it identically in both
    // engines), then the t statistic is closed-form on a 2-row table.
    // This is the moments-then-formula shape every significance test
    // takes at 100 TB — raw values never leave their partitions.
    "q_ttest" -> ((s, dir) => {
      val m = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .filter(col(S).isin("BUILDING", "AUTOMOBILE"))
        .groupBy(col(S).as("seg"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 6))).as("sx"),
          sum((col("o_totalprice") * col("o_totalprice"))
            .cast(DecimalType(38, 10))).as("sxx"))
        .select(col("seg"), col("n"),
          (col("sx").cast(DoubleType) / col("n")).as("m"),
          ((col("sxx").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType) / col("n"))
            / (col("n") - 1)).as("v"))
      val w = m.groupBy().agg(
        max(when(col("seg") === "BUILDING", col("n"))).as("n1"),
        max(when(col("seg") === "BUILDING", col("m"))).as("mean1"),
        max(when(col("seg") === "BUILDING", col("v"))).as("v1"),
        max(when(col("seg") === "AUTOMOBILE", col("n"))).as("n2"),
        max(when(col("seg") === "AUTOMOBILE", col("m"))).as("mean2"),
        max(when(col("seg") === "AUTOMOBILE", col("v"))).as("v2"))
      w.withColumn("se1", col("v1") / col("n1"))
        .withColumn("se2", col("v2") / col("n2"))
        .withColumn("se", col("se1") + col("se2"))
        .select(col("n1"), col("n2"), col("mean1"), col("mean2"),
          round((col("mean1") - col("mean2")) / sqrt(col("se")), 6)
            .as("t_stat"),
          round(col("se") * col("se") /
            (col("se1") * col("se1") / (col("n1") - 1) +
              col("se2") * col("se2") / (col("n2") - 1)), 6).as("welch_df"))
    }),

    // Winsorization: clip o_totalprice into its exact [p01, p99] band,
    // then report the per-priority mean of the clipped column. The exact
    // bounds come from the bounded 3-pass histogram walk
    // (Holistic.exactQuantiles — same type-7 interpolation as DuckDB
    // quantile_cont, never `percentile`'s whole-column buffer) and are
    // inlined as literals, so the clip is a map-side expression; the
    // clipped doubles stage through decimal(18,6) so the per-group sums
    // are order-independent. The robust-mean shape for heavy-tailed
    // quality metrics at corpus scale.
    "q_winsorize" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val Seq(p01v, p99v) = graft.operators.Holistic.exactQuantiles(
        o, "o_totalprice", Seq(0.01, 0.99))
      o.withColumn("p01", lit(p01v)).withColumn("p99", lit(p99v))
        .withColumn("clipped",
          least(greatest(col("o_totalprice"), col("p01")), col("p99")))
        .groupBy(col(P).as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice") < col("p01"), 1L).otherwise(0L))
            .as("n_clip_low"),
          sum(when(col("o_totalprice") > col("p99"), 1L).otherwise(0L))
            .as("n_clip_high"),
          sum(col("clipped").cast(DecimalType(18, 6))).as("sc"))
        .select(col("priority"), col("n"), col("n_clip_low"),
          col("n_clip_high"),
          (col("sc").cast(DoubleType) / col("n")).as("winsorized_mean"))
    }),

    // Two-sample Kolmogorov–Smirnov: is the URGENT-priority price
    // distribution different from the rest? The ECDF difference needs a
    // global prefix sum, which a naive unpartitioned running-sum window
    // would serialize through one task — instead the classic two-level
    // distributed prefix sum (Banding.sumsBefore) over the per-value
    // counts: at 100 TB the only global structure is its ≤1024-row band
    // offset table.
    "q_ks_2samp" -> ((s, dir) => {
      val o = Tables(s, dir, "orders").select(
        col("o_totalprice").as("x"),
        when(col(P) === "1-URGENT", 1L).otherwise(0L).as("a"))
      val byX0 = o.groupBy("x").agg(
        sum(col("a")).as("ca"), sum(lit(1L) - col("a")).as("cb"))
        .persist() // bounds + band partials + totals + main all read it
      val tot = byX0.agg(sum("ca").as("n1"), sum("cb").as("n2"))
      Banding.sumsBefore(byX0, col("x"), Seq(col("x")),
          Seq("cuma" -> col("ca"), "cumb" -> col("cb")))
        .withColumn("cuma", col("cuma") + col("ca"))
        .withColumn("cumb", col("cumb") + col("cb"))
        .crossJoin(broadcast(tot))
        // ECDF at each distinct x includes all ties at x (group-then-cum),
        // so this is the exact sup over the pooled sample; each term is
        // one integer-derived IEEE division — deterministic across engines
        .select(col("n1"), col("n2"),
          abs(col("cuma").cast(DoubleType) / col("n1")
            - col("cumb").cast(DoubleType) / col("n2")).as("dd"))
        .groupBy("n1", "n2")
        .agg(round(max(col("dd")), 6).as("ks_d"))
    }),

    // Jensen–Shannon divergence between the token-length distributions
    // of the two document halves — the bounded-support drift detector a
    // pipeline runs between ingest snapshots (full-vocab JSD is the same
    // shape; length caps the support so the final fold is a constant-size
    // sorted list, the chisq discipline). Map-side combine collapses the
    // corpus to <=20 cells before anything else happens.
    "q_js_divergence" -> ((s, dir) => {
      val t = Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
        .select((col("doc_id") % 2).as("half"),
          least(length(col("w")), lit(20)).cast(LongType).as("len"))
      val cells = t.groupBy("len").agg(
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("c1"))
      val tot = cells.agg(sum("c0").as("n0"), sum("c1").as("n1"))
      cells.crossJoin(broadcast(tot))
        .withColumn("p", col("c0").cast(DoubleType) / col("n0"))
        .withColumn("q", col("c1").cast(DoubleType) / col("n1"))
        .withColumn("m", (col("p") + col("q")) / 2)
        .withColumn("contrib",
          coalesce(when(col("p") > 0,
            col("p") * log(col("p") / col("m")) / 2), lit(0.0))
            + coalesce(when(col("q") > 0,
              col("q") * log(col("q") / col("m")) / 2), lit(0.0)))
        .groupBy("n0", "n1")
        .agg(sort_array(collect_list(struct(col("len"), col("contrib"))))
          .as("cl"))
        // ln enters per term, so fold in sorted len order and surface
        // only the 6-decimal statistic (the q_chisq convention)
        .select(col("n0"), col("n1"),
          round(aggregate(col("cl"), lit(0.0), (a, x) => a + x("contrib")),
            6).as("jsd"))
    }),

    // Mutual information of the (lang, source) contingency table — "does
    // provenance predict language" — the association score a curation
    // pass uses to decide whether per-source language filters are worth
    // building. Same bounded-cell discipline as q_chisq: one map-combined
    // shuffle to r*c cells, windows over the cell table, sorted fold,
    // round(,6) because ln is irrational.
    "q_mutual_info" -> ((s, dir) => {
      val cells = Tables(s, dir, "documents")
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("cnt"))
      cells
        .withColumn("rowtot", sum("cnt").over(Window.partitionBy("lang")))
        .withColumn("coltot", sum("cnt").over(Window.partitionBy("source")))
        .withColumn("n", sum("cnt").over(Window.partitionBy()))
        .withColumn("pxy", col("cnt").cast(DoubleType) / col("n"))
        .withColumn("px", col("rowtot").cast(DoubleType) / col("n"))
        .withColumn("py", col("coltot").cast(DoubleType) / col("n"))
        .withColumn("contrib",
          col("pxy") * log(col("pxy") / (col("px") * col("py"))))
        .groupBy("n")
        .agg(count(lit(1)).as("n_cells"),
          sort_array(collect_list(struct(col("lang"), col("source"),
            col("contrib")))).as("cl"))
        .select(col("n"), col("n_cells"),
          round(aggregate(col("cl"), lit(0.0), (a, x) => a + x("contrib")),
            6).as("mi_nats"))
    }),

    // Power analysis companion to q_ab_test: the minimum detectable
    // absolute effect at alpha=0.05 (two-sided) / power=0.80 for the
    // current arm sizes and base conversion rate — the "is this
    // experiment even worth running" number an experimentation platform
    // serves. z quantiles are shared 6-decimal literals; everything else
    // is one fixed double expression over exact integer counts.
    "q_power_mde" -> ((s, dir) => {
      val g = abArms(s, dir)
        .agg(count(lit(1)).cast(LongType).as("n_users"),
          sum("converted").cast(LongType).as("n_conv"),
          sum(when(col("grp") === 0, 1L).otherwise(0L)).cast(LongType).as("n1"),
          sum(when(col("grp") === 1, 1L).otherwise(0L)).cast(LongType).as("n2"))
      val p = col("n_conv").cast(DoubleType) / col("n_users")
      g.select(col("n_users"), col("n1"), col("n2"),
        round(p, 6).as("base_rate"),
        round((lit(1.959964) + lit(0.841621)) *
          sqrt(p * (lit(1.0) - p) *
            (lit(1.0) / col("n1") + lit(1.0) / col("n2"))), 6).as("mde_abs"))
    }),

    // Robust trend detection on the daily series: Mann-Kendall S/z
    // (sign-pair test, ties-corrected variance) + Theil-Sen slope
    // (median of pairwise slopes) — the outlier-proof complement to the
    // OLS family. The corpus map-combines to the calendar table FIRST;
    // the O(days²) pair join runs on that bounded table only (435 pairs
    // for a month — never corpus pairs). S and the ties correction are
    // exact integers; slope medians are type-7 percentiles; one double
    // division + sqrt at the surface.
    "q_trend_robust" -> ((s, dir) => {
      val d = Tables(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).cast(LongType).as("x"))
      // t is the CALENDAR epoch-day index, not a row number: a missing
      // day must widen the pair's slope denominator (the Theil-Sen
      // estimator is over the time axis, not the observation rank)
      val r = d.withColumn("t",
        unix_date(to_date(col("day"))).cast(LongType)).persist()
      val pairs = r.as("a").join(r.as("b"), col("b.t") > col("a.t"))
        .select(
          when(col("b.x") > col("a.x"), 1L)
            .when(col("b.x") < col("a.x"), -1L).otherwise(0L).as("sgn"),
          ((col("b.x") - col("a.x")).cast(DoubleType) /
            (col("b.t") - col("a.t"))).as("slope"))
      val agg = pairs.agg(count(lit(1)).cast(LongType).as("n_pairs"),
        sum("sgn").cast(LongType).as("s"),
        round(expr("percentile(slope, 0.5)"), 6).as("theil_sen_slope"))
      val nr = r.agg(count(lit(1)).cast(LongType).as("n"))
      val ties = r.groupBy("x").agg(count(lit(1)).cast(LongType).as("tcnt"))
        .filter(col("tcnt") > 1)
        .agg(coalesce(sum(col("tcnt") * (col("tcnt") - 1) *
          (lit(2) * col("tcnt") + 5)), lit(0L)).cast(LongType).as("tsum"))
      agg.crossJoin(broadcast(nr)).crossJoin(broadcast(ties))
        .withColumn("var_s",
          (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tsum"))
            .cast(DoubleType) / 18.0)
        .select(col("n"), col("n_pairs"), col("s").as("mk_s"),
          col("theil_sen_slope"),
          round(when(col("s") > 0, (col("s") - 1) / sqrt(col("var_s")))
            .when(col("s") < 0, (col("s") + 1) / sqrt(col("var_s")))
            .otherwise(0.0), 6).as("mk_z"))
    }),

    // Population Stability Index (per-decile) between the two orderkey-
    // parity halves — the model-monitoring drift metric (PSI < 0.1 =
    // stable). Decile edges are exact type-7 quantiles computed ONCE by
    // the bounded histogram walk (Holistic.exactQuantiles — never
    // `percentile`'s whole-column buffer) and inlined as literals; bin
    // assignment is map-side; the contingency map-combines to 10 cells
    // and each (p−q)·ln(p/q) term is one fixed double expression over
    // integers, rounded at the surface.
    "q_psi" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val qs = graft.operators.Holistic.exactQuantiles(
        o, "o_totalprice", (1 to 9).map(_ / 10.0))
      val bin = (1 to 9).map(i =>
        (col("o_totalprice") > lit(qs(i - 1))).cast(IntegerType))
        .foldLeft(lit(1))(_ + _)
      val cells = o
        .select((col("o_orderkey") % 2).as("half"), bin.cast(LongType).as("bin"))
        .groupBy("bin")
        .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).cast(LongType).as("c0"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).cast(LongType).as("c1"))
      val tot = cells.agg(sum("c0").cast(LongType).as("n0"),
        sum("c1").cast(LongType).as("n1"))
      cells.crossJoin(broadcast(tot))
        .withColumn("p", col("c0").cast(DoubleType) / col("n0"))
        .withColumn("q", col("c1").cast(DoubleType) / col("n1"))
        .select(col("bin"), col("c0"), col("c1"),
          // a zero cell makes ln(p/q) undefined (Spark log(0)=NULL,
          // DuckDB ln(0)=-inf — engines would diverge): surface NULL on
          // BOTH sides as the "smooth me" flag instead of a fake number
          when(col("c0") === 0 || col("c1") === 0, lit(null))
            .otherwise(round((col("p") - col("q")) * log(col("p") / col("q")), 6))
            .as("psi_term"))
    }),

    // Poisson bootstrap confidence interval for the mean order value —
    // THE at-scale resampling scheme: instead of materializing B
    // resamples, every row draws a deterministic Poisson(1) weight per
    // replica (md5 bucket through the exact integer inverse-CDF table,
    // so the "randomness" is reingest-stable and engine-identical) and
    // the B=20 replica means fall out of ONE map-side explode + one
    // 20-group map-combined aggregate — no per-replica corpus pass, no
    // driver-side resampling. Replica means use exact decimal sums; the
    // CI is a type-7 percentile over the 20-row replica table.
    "q_bootstrap_ci" -> ((s, dir) => {
      val reps = s.range(0, 20).select(col("id").cast(LongType).as("b"))
      val o = Tables(s, dir, "orders")
      // the ×20 replica explode does 20 md5+conv evaluations PER ORDER
      // ROW — on a scan that cannot parallelize (the single-row-group
      // fixture file) all of it lands on one core (round-16: 4.7 s, one
      // task). Spread the 2-column input first: the shuffle moves N
      // narrow rows to buy 20N hashes full parallelism, and the gate
      // leaves any already-parallel scan untouched (guide §2.5).
      val w = Sources
        .spreadScanForCpu(o.select(col("o_orderkey"), col("o_totalprice").as("x")))
        .crossJoin(broadcast(reps))
        .withColumn("u",
          Parity.md5Key(concat(col("o_orderkey").cast(StringType),
            lit(":"), col("b").cast(StringType))) % 1000000)
        .withColumn("wgt",
          when(col("u") < 367879, 0L).when(col("u") < 735759, 1L)
            .when(col("u") < 919699, 2L).when(col("u") < 981012, 3L)
            .when(col("u") < 996340, 4L).when(col("u") < 999406, 5L)
            .when(col("u") < 999917, 6L).when(col("u") < 999990, 7L)
            .when(col("u") < 999999, 8L).otherwise(9L))
      val m = w.groupBy("b")
        .agg(sum("wgt").cast(LongType).as("n_eff"),
          (sum((col("wgt") * col("x")).cast(DecimalType(18, 6)))
            .cast(DoubleType) / sum("wgt")).as("mean_b"))
      val base = o.agg(count(lit(1)).cast(LongType).as("n"),
        (sum(col("o_totalprice").cast(DecimalType(18, 6))).cast(DoubleType) /
          count(lit(1))).as("mean_raw"))
      m.crossJoin(broadcast(base))
        .groupBy("n")
        .agg(round(max("mean_raw"), 6).as("mean_x"),
          round(expr("percentile(mean_b, 0.025)"), 6).as("boot_lo"),
          round(expr("percentile(mean_b, 0.975)"), 6).as("boot_hi"))
    }),

    // Day-of-week seasonality profile of the daily event volume — the
    // periodicity complement to q_acf: per-dow mean and seasonal index
    // (dow mean / global mean). Corpus map-combines to the calendar
    // table; everything after runs on <= 7 rows. dow is 0=Sunday in BOTH
    // engines (Spark dayofweek() is 1-based, shifted here).
    "q_seasonality" -> ((s, dir) => {
      val d = Tables(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          (dayofweek(to_date(col("ts"))) - 1).cast(LongType).as("dow"))
        .agg(count(lit(1)).cast(LongType).as("x"))
      val g = d.agg(count(lit(1)).cast(LongType).as("n"),
        sum("x").cast(LongType).as("s"))
      d.groupBy("dow")
        .agg(count(lit(1)).cast(LongType).as("n_days"),
          sum("x").cast(LongType).as("sd"))
        .crossJoin(broadcast(g))
        .select(col("dow"), col("n_days"),
          round(col("sd").cast(DoubleType) / col("n_days"), 6).as("mean_events"),
          round((col("sd").cast(DoubleType) / col("n_days")) /
            (col("s").cast(DoubleType) / col("n")), 6).as("seasonal_index"))
    }),

    // Kaplan-Meier survival curve for signup → first purchase, right-
    // censored at the observation end — the time-to-event estimator
    // cohort analytics needs when not every user has converted yet.
    // Durations are exact integer epoch-HOURS (identical truncation
    // arithmetic both engines); per-duration event/censor counts
    // map-combine the user grain down to the duration grain (bounded by
    // the observation window, ~720 rows), at-risk counts come from one
    // descending cumulative window over that bounded table, and each
    // S(t_i) folds its prefix of (1 − d/n) factors LEFT-TO-RIGHT from
    // 1.0 — the same association the oracle's list_reduce uses, so the
    // running product is IEEE-identical.
    "q_survival_km" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      def epochHour(c: Column): Column =
        (unix_seconds(date_trunc("hour", c)) / 3600).cast(LongType)
      val s0 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("t0"))
      val p = ev.filter(col("event_type") === "purchase").as("e")
        .join(s0, "user_id").filter(col("ts") > col("t0"))
        .groupBy("user_id").agg(min("ts").as("tp"))
      val mx = ev.agg(max("ts").as("tmax"))
      val u = s0.join(p, Seq("user_id"), "left").crossJoin(broadcast(mx))
        .select(
          when(col("tp").isNotNull, epochHour(col("tp")) - epochHour(col("t0")))
            .otherwise(epochHour(col("tmax")) - epochHour(col("t0")))
            .as("dur"),
          when(col("tp").isNotNull, 1L).otherwise(0L).as("observed"))
      val grain = u.groupBy("dur")
        .agg(sum("observed").cast(LongType).as("d"),
          sum(lit(1L) - col("observed")).cast(LongType).as("cens"))
      val wDesc = Window.orderBy(col("dur").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val evts = grain
        .withColumn("n_risk", sum(col("d") + col("cens")).over(wDesc).cast(LongType))
        .filter(col("d") > 0)
        .withColumn("i", row_number().over(Window.orderBy("dur")))
        .persist()
      val fs = evts
        .agg(expr("array_agg(struct(dur, 1.0D - CAST(d AS DOUBLE) / n_risk))").as("sl"))
        .select(expr("transform(array_sort(sl), x -> x.col2)").as("l"))
      evts.crossJoin(broadcast(fs))
        .select(col("dur").as("dur_hours"), col("n_risk"),
          col("d").as("n_events"),
          round(expr("aggregate(slice(l, 1, i), 1.0D, (a, b) -> a * b)"), 6)
            .as("s_km"))
    }),

    // Two-proportion A/B z-test: did the (deterministic user_id-parity)
    // treatment arm convert differently? Conversion = any purchase over
    // the value threshold. Corpus map-combines to one flag per USER
    // (first shuffle), then the 2×2 counts collapse to one row — the
    // whole statistic is a fixed double expression over four integers,
    // the q_ttest discipline applied to proportions.
    "q_ab_test" -> ((s, dir) => {
      val u = abArms(s, dir)
      val g = u.agg(
        sum(when(col("grp") === 0, 1L).otherwise(0L)).cast(LongType).as("n1"),
        sum(when(col("grp") === 0, col("converted")).otherwise(0L))
          .cast(LongType).as("c1"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).cast(LongType).as("n2"),
        sum(when(col("grp") === 1, col("converted")).otherwise(0L))
          .cast(LongType).as("c2"))
      val p1 = col("c1").cast(DoubleType) / col("n1")
      val p2 = col("c2").cast(DoubleType) / col("n2")
      val pp = (col("c1") + col("c2")).cast(DoubleType) / (col("n1") + col("n2"))
      g.select(col("n1"), col("c1"), col("n2"), col("c2"),
        round(p1, 6).as("p1"), round(p2, 6).as("p2"),
        round((p1 - p2) / sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n1") + lit(1.0) / col("n2"))), 6).as("z_stat"))
    }),

    // CUSUM changepoint detection on the daily ingest-volume series —
    // "when did the distribution shift". The corpus map-combines to one
    // row per day first; the cumulative-deviation walk runs on that
    // calendar-bounded table (same documented bound as q_ewma), with
    // cusum_t = prefix(x)_t − t·mean derived from EXACT integer prefix
    // sums through one fixed double expression, rounded before the
    // argmax comparison so both engines rank identical values. Argmax
    // tie-breaks to the earliest day.
    "q_changepoint" -> ((s, dir) => {
      val d = Tables(s, dir, "events")
        // string day (q_incr_agg convention): DATE-typed output columns
        // don't canonicalize across the driver's pandas compare
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).cast(LongType).as("x"))
      val g = d.agg(count(lit(1)).cast(LongType).as("n"),
        sum("x").cast(LongType).as("s"))
      val w = Window.orderBy("day")
      val cu = d
        .withColumn("px", sum("x").over(w).cast(LongType))
        .withColumn("t", row_number().over(w).cast(LongType))
        .crossJoin(broadcast(g))
        .withColumn("cusum",
          round(col("px").cast(DoubleType) -
            col("t") * (col("s").cast(DoubleType) / col("n")), 6))
        .select("day", "x", "cusum")
        .persist()
      val top = cu.agg(max(abs(col("cusum"))).as("maxabs"))
      val firstDay = cu.crossJoin(broadcast(top))
        .filter(abs(col("cusum")) === col("maxabs"))
        .agg(min("day").as("cp_day"))
      cu.crossJoin(broadcast(top)).crossJoin(broadcast(firstDay))
        .select(col("day"), col("x"), col("cusum"),
          (abs(col("cusum")) === col("maxabs") &&
            col("day") === col("cp_day")).cast(LongType).as("is_changepoint"))
    }),

    // Mean imputation: a deterministic missingness rule (every 7th
    // event's value withheld) is filled with the per-event-type mean of
    // the PRESENT values, and the result is proven by re-aggregating the
    // imputed column. Means are a dimension-sized broadcast back onto
    // the stream (corpus never reshuffles); the imputed doubles stage
    // through decimal(18,6) so the proof sum is order-independent.
    "q_impute" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .withColumn("v",
          when(col("event_id") % 7 === 0, lit(null).cast(DoubleType))
            .otherwise(col("value")))
      val means = ev.groupBy(col("event_type"))
        .agg((sum(col("v").cast(DecimalType(18, 6))).cast(DoubleType) /
          count(col("v"))).as("mean_present"))
      ev.join(broadcast(means), Seq("event_type"))
        .withColumn("imputed", coalesce(col("v"), col("mean_present")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_missing"),
          max(col("mean_present")).as("mean_present"),
          sum(col("imputed").cast(DecimalType(18, 6))).cast(DoubleType)
            .as("sum_imputed"))
    })
  )

  val oracles: Map[String, String] = Map(

    "q_chisq" ->
      """WITH cells AS (
           SELECT c_mktsegment AS seg, o_orderpriority AS pri,
             count(*) AS cnt
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         grid AS (
           SELECT sp.seg, pp.pri, coalesce(cells.cnt, 0) AS cnt
           FROM (SELECT DISTINCT seg FROM cells) sp
           CROSS JOIN (SELECT DISTINCT pri FROM cells) pp
           LEFT JOIN cells ON cells.seg = sp.seg AND cells.pri = pp.pri),
         t AS (
           SELECT seg, pri, cnt,
             sum(cnt) OVER (PARTITION BY seg) AS rowtot,
             sum(cnt) OVER (PARTITION BY pri) AS coltot,
             sum(cnt) OVER () AS n,
             (SELECT count(DISTINCT seg) FROM cells) AS r,
             (SELECT count(DISTINCT pri) FROM cells) AS c
           FROM grid),
         u AS (
           SELECT seg, pri, n, r, c,
             CAST(cnt AS DOUBLE) - CAST(rowtot * coltot AS DOUBLE) / n AS d,
             CAST(rowtot * coltot AS DOUBLE) / n AS e
           FROM t),
         f AS (
           SELECT n, CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
             CAST(least(r - 1, c - 1) AS BIGINT) AS k,
             round(list_reduce(list_prepend(0.0,
               list(d * d / e ORDER BY seg, pri)), (a, b) -> a + b), 6) AS chi2
           FROM u GROUP BY n, r, c)
         SELECT CAST(n AS BIGINT) AS n, dof, chi2,
           round(sqrt(chi2 / (n * k)), 6) AS cramers_v
         FROM f""",

    "q_ttest" ->
      """WITH m AS (
           SELECT c_mktsegment AS seg, count(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,10)))
               AS DOUBLE) AS sxx
           FROM orders JOIN customer ON o_custkey = c_custkey
           WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
           GROUP BY 1),
         v AS (
           SELECT seg, n, sx / n AS mean,
             (sxx - sx * sx / n) / (n - 1) AS var
           FROM m),
         w AS (
           SELECT
             max(CASE WHEN seg = 'BUILDING' THEN n END) AS n1,
             max(CASE WHEN seg = 'BUILDING' THEN mean END) AS mean1,
             max(CASE WHEN seg = 'BUILDING' THEN var END) AS v1,
             max(CASE WHEN seg = 'AUTOMOBILE' THEN n END) AS n2,
             max(CASE WHEN seg = 'AUTOMOBILE' THEN mean END) AS mean2,
             max(CASE WHEN seg = 'AUTOMOBILE' THEN var END) AS v2
           FROM v),
         se AS (
           SELECT n1, n2, mean1, mean2, v1 / n1 AS se1, v2 / n2 AS se2,
             v1 / n1 + v2 / n2 AS se
           FROM w)
         SELECT n1, n2, mean1, mean2,
           round((mean1 - mean2) / sqrt(se), 6) AS t_stat,
           round(se * se /
             (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 6) AS welch_df
         FROM se""",

    "q_winsorize" ->
      """WITH b AS (
           SELECT quantile_cont(o_totalprice, 0.01) AS p01,
             quantile_cont(o_totalprice, 0.99) AS p99
           FROM orders)
         SELECT o_orderpriority AS priority, count(*) AS n,
           CAST(SUM(CASE WHEN o_totalprice < p01 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_clip_low,
           CAST(SUM(CASE WHEN o_totalprice > p99 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_clip_high,
           CAST(SUM(CAST(least(greatest(o_totalprice, p01), p99)
             AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS winsorized_mean
         FROM orders, b
         GROUP BY 1""",

    "q_ks_2samp" ->
      """WITH o AS (
           SELECT o_totalprice AS x,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a
           FROM orders),
         byx AS (
           SELECT x, SUM(a) AS ca, SUM(1 - a) AS cb FROM o GROUP BY x),
         n AS (
           SELECT CAST(SUM(ca) AS BIGINT) AS n1,
             CAST(SUM(cb) AS BIGINT) AS n2 FROM byx),
         c AS (
           SELECT x,
             SUM(ca) OVER (ORDER BY x) AS cuma,
             SUM(cb) OVER (ORDER BY x) AS cumb
           FROM byx)
         SELECT n1, n2,
           round(MAX(abs(CAST(cuma AS DOUBLE) / n1
             - CAST(cumb AS DOUBLE) / n2)), 6) AS ks_d
         FROM c, n GROUP BY n1, n2""",

    "q_js_divergence" ->
      """WITH t AS (
           SELECT doc_id % 2 AS half, least(length(w), 20) AS len
           FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\s+')) AS w
                 FROM documents)
           WHERE length(w) > 0),
         cells AS (
           SELECT len,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
           FROM t GROUP BY len),
         n AS (
           SELECT CAST(SUM(c0) AS BIGINT) AS n0,
             CAST(SUM(c1) AS BIGINT) AS n1 FROM cells),
         u AS (
           SELECT len, n0, n1,
             CAST(c0 AS DOUBLE) / n0 AS p,
             CAST(c1 AS DOUBLE) / n1 AS q
           FROM cells, n),
         v AS (
           SELECT len, n0, n1,
             (CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) / 2 ELSE 0 END)
             + (CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) / 2 ELSE 0 END)
               AS contrib
           FROM u)
         SELECT n0, n1,
           round(list_reduce(list_prepend(0.0,
             list(contrib ORDER BY len)), (a, b) -> a + b), 6) AS jsd
         FROM v GROUP BY n0, n1""",

    "q_mutual_info" ->
      """WITH cells AS (
           SELECT lang, source, count(*) AS cnt
           FROM documents GROUP BY 1, 2),
         t AS (
           SELECT lang, source, cnt,
             sum(cnt) OVER (PARTITION BY lang) AS rowtot,
             sum(cnt) OVER (PARTITION BY source) AS coltot,
             sum(cnt) OVER () AS n
           FROM cells),
         u AS (
           SELECT lang, source, n,
             CAST(cnt AS DOUBLE) / n AS pxy,
             CAST(rowtot AS DOUBLE) / n AS px,
             CAST(coltot AS DOUBLE) / n AS py
           FROM t)
         SELECT CAST(n AS BIGINT) AS n,
           count(*) AS n_cells,
           round(list_reduce(list_prepend(0.0,
             list(pxy * ln(pxy / (px * py)) ORDER BY lang, source)),
             (a, b) -> a + b), 6) AS mi_nats
         FROM u GROUP BY n""",

    "q_power_mde" ->
      s"""WITH u AS ($abArmsSqlCte),
         g AS (
           SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_conv,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
           FROM u)
         SELECT n_users, n1, n2,
           round(CAST(n_conv AS DOUBLE) / n_users, 6) AS base_rate,
           round((1.959964 + 0.841621) *
             sqrt((CAST(n_conv AS DOUBLE) / n_users) *
                  (1.0 - CAST(n_conv AS DOUBLE) / n_users) *
                  (1.0 / n1 + 1.0 / n2)), 6) AS mde_abs
         FROM g""",

    "q_trend_robust" ->
      """WITH d AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1),
         r AS (SELECT day, x,
             CAST(epoch(CAST(day AS DATE)) AS BIGINT) // 86400 AS t FROM d),
         pairs AS (
           SELECT CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
                  ELSE 0 END AS sgn,
             CAST(b.x - a.x AS DOUBLE) / (b.t - a.t) AS slope
           FROM r a JOIN r b ON b.t > a.t),
         ties AS (SELECT x, CAST(count(*) AS BIGINT) AS tcnt
           FROM r GROUP BY x HAVING count(*) > 1),
         agg AS (
           SELECT CAST((SELECT count(*) FROM r) AS BIGINT) AS n,
             CAST(SUM(sgn) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n_pairs,
             round(quantile_cont(slope, 0.5), 6) AS theil_sen_slope
           FROM pairs),
         vr AS (
           SELECT agg.n, agg.s, agg.n_pairs, agg.theil_sen_slope,
             CAST(agg.n * (agg.n - 1) * (2 * agg.n + 5)
               - COALESCE((SELECT SUM(tcnt * (tcnt - 1) * (2 * tcnt + 5))
                   FROM ties), 0) AS DOUBLE) / 18.0 AS var_s
           FROM agg)
         SELECT n, n_pairs, s AS mk_s, theil_sen_slope,
           round(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                      WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                      ELSE 0.0 END, 6) AS mk_z
         FROM vr""",

    "q_psi" ->
      """WITH cut AS (SELECT quantile_cont(o_totalprice,
             [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs FROM orders),
         b AS (SELECT CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE 1 END AS half,
             1 + CAST(o_totalprice > qs[1] AS INT)
               + CAST(o_totalprice > qs[2] AS INT)
               + CAST(o_totalprice > qs[3] AS INT)
               + CAST(o_totalprice > qs[4] AS INT)
               + CAST(o_totalprice > qs[5] AS INT)
               + CAST(o_totalprice > qs[6] AS INT)
               + CAST(o_totalprice > qs[7] AS INT)
               + CAST(o_totalprice > qs[8] AS INT)
               + CAST(o_totalprice > qs[9] AS INT) AS bin
           FROM orders, cut),
         cells AS (SELECT CAST(bin AS BIGINT) AS bin,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
           FROM b GROUP BY 1),
         tot AS (SELECT CAST(SUM(c0) AS BIGINT) AS n0,
             CAST(SUM(c1) AS BIGINT) AS n1 FROM cells),
         u AS (SELECT bin, c0, c1, CAST(c0 AS DOUBLE) / n0 AS p,
             CAST(c1 AS DOUBLE) / n1 AS q FROM cells, tot)
         SELECT bin, c0, c1,
           CASE WHEN c0 = 0 OR c1 = 0 THEN NULL
                ELSE round((p - q) * ln(p / q), 6) END AS psi_term
         FROM u""",

    "q_bootstrap_ci" ->
      """WITH reps AS (SELECT unnest(range(0, 20)) AS b),
         w AS (
           SELECT r.b, o.o_totalprice AS x,
             CAST(('0x' || substring(md5(CAST(o.o_orderkey AS VARCHAR)
               || ':' || CAST(r.b AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000000 AS u
           FROM orders o, reps r),
         wt AS (
           SELECT b, x,
             CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                  WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
                  WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
                  WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7
                  WHEN u < 999999 THEN 8 ELSE 9 END AS wgt
           FROM w),
         m AS (
           SELECT b, CAST(SUM(wgt) AS BIGINT) AS n_eff,
             CAST(SUM(CAST(wgt * x AS DECIMAL(18,6))) AS DOUBLE) / SUM(wgt)
               AS mean_b
           FROM wt GROUP BY b),
         base AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS mean_raw
           FROM orders)
         SELECT base.n, round(base.mean_raw, 6) AS mean_x,
           round(quantile_cont(m.mean_b, 0.025), 6) AS boot_lo,
           round(quantile_cont(m.mean_b, 0.975), 6) AS boot_hi
         FROM m, base GROUP BY base.n, base.mean_raw""",

    "q_seasonality" ->
      """WITH d AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(dayofweek(date_trunc('day', ts)) AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s FROM d),
         w AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS sd
           FROM d GROUP BY 1)
         SELECT w.dow, w.n_days,
           round(CAST(w.sd AS DOUBLE) / w.n_days, 6) AS mean_events,
           round((CAST(w.sd AS DOUBLE) / w.n_days) /
             (CAST(g.s AS DOUBLE) / g.n), 6) AS seasonal_index
         FROM w, g""",

    "q_survival_km" ->
      """WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events
           WHERE event_type = 'signup' GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts) AS tp
           FROM events e JOIN s0 ON e.user_id = s0.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s0.t0 GROUP BY 1),
         mx AS (SELECT max(ts) AS tmax FROM events),
         u AS (SELECT s0.user_id,
             CAST(CASE WHEN p.tp IS NOT NULL
               THEN CAST(epoch(date_trunc('hour', p.tp)) AS BIGINT) // 3600
                  - CAST(epoch(date_trunc('hour', s0.t0)) AS BIGINT) // 3600
               ELSE CAST(epoch(date_trunc('hour', (SELECT tmax FROM mx))) AS BIGINT) // 3600
                  - CAST(epoch(date_trunc('hour', s0.t0)) AS BIGINT) // 3600
               END AS BIGINT) AS dur,
             CAST(CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS observed
           FROM s0 LEFT JOIN p ON s0.user_id = p.user_id),
         grain AS (SELECT dur, CAST(SUM(observed) AS BIGINT) AS d,
             CAST(SUM(1 - observed) AS BIGINT) AS cens
           FROM u GROUP BY 1),
         risk AS (SELECT dur, d, cens,
             CAST(SUM(d + cens) OVER (ORDER BY dur DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_risk
           FROM grain),
         ev AS (SELECT dur, d, n_risk,
             row_number() OVER (ORDER BY dur) AS i
           FROM risk WHERE d > 0),
         fs AS (SELECT list(1.0 - CAST(d AS DOUBLE) / n_risk ORDER BY dur)
               AS l FROM ev)
         SELECT ev.dur AS dur_hours, ev.n_risk, ev.d AS n_events,
           round(list_reduce(list_prepend(1.0, l[1:CAST(ev.i AS INTEGER)]),
             (a, b) -> a * b), 6) AS s_km
         FROM ev, fs""",

    "q_ab_test" ->
      s"""WITH u AS ($abArmsSqlCte),
         g AS (
           SELECT
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN grp = 0 THEN converted ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN grp = 1 THEN converted ELSE 0 END) AS BIGINT) AS c2
           FROM u)
         SELECT n1, c1, n2, c2,
           round(CAST(c1 AS DOUBLE) / n1, 6) AS p1,
           round(CAST(c2 AS DOUBLE) / n2, 6) AS p2,
           round((CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2) /
             sqrt((CAST(c1 + c2 AS DOUBLE) / (n1 + n2)) *
                  (1.0 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2)) *
                  (1.0 / n1 + 1.0 / n2)), 6) AS z_stat
         FROM g""",

    "q_changepoint" ->
      """WITH d AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s FROM d),
         p AS (SELECT day, x,
             CAST(sum(x) OVER (ORDER BY day) AS BIGINT) AS px,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t FROM d),
         cu AS (SELECT day, x,
             round(CAST(px AS DOUBLE) - t * (CAST(g.s AS DOUBLE) / g.n), 6)
               AS cusum
           FROM p, g)
         SELECT day, x, cusum,
           CAST(abs(cusum) = (SELECT max(abs(cusum)) FROM cu)
             AND day = (SELECT min(day) FROM cu c2
                        WHERE abs(c2.cusum) =
                          (SELECT max(abs(cusum)) FROM cu)) AS BIGINT)
             AS is_changepoint
         FROM cu""",

    "q_impute" ->
      """WITH ev AS (
           SELECT event_type,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
           FROM events),
         m AS (
           SELECT event_type,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(v)
               AS mean_present
           FROM ev GROUP BY 1)
         SELECT ev.event_type, count(*) AS n,
           CAST(SUM(CASE WHEN ev.v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing,
           max(m.mean_present) AS mean_present,
           CAST(SUM(CAST(coalesce(ev.v, m.mean_present) AS DECIMAL(18,6)))
             AS DOUBLE) AS sum_imputed
         FROM ev JOIN m USING (event_type)
         GROUP BY 1"""
  )
}
