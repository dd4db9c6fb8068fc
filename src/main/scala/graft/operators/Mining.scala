package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Behavioral / data-mining analytics — the "what does the corpus DO"
  * family a pipeline runs after the per-row quality gates: market-basket
  * association rules, funnel conversion, series autocorrelation, RFM
  * segmentation, concentration (Gini), and first-digit (Benford) audits.
  *
  * Reference precedent: all of these are classic multi-stage MapReduce
  * programs over the reference's `mapfn`/`reducefn` surface
  * (mincemeat.py:167-182) — e.g. association rules are the canonical
  * "pairs" job (map emits item pairs per basket, reduce counts) — here
  * re-expressed as declarative Catalyst plans with map-combined integer
  * aggregates, apriori-style candidate pruning, and dimension-bounded
  * window tables so every shape survives a 100 TB corpus.
  *
  * Oracle-parity rules (repo conventions): integer counts everywhere
  * possible; decimal staging for sums of doubles; doubles produced by a
  * FIXED sequence of ops on exact integers/decimals; round(,6) only at
  * the final surfaced statistic.
  *
  * Cache-hygiene contract: several queries persist() shared sub-frames
  * (q_assoc_rules, q_acf, q_rfm, q_markov_stationary, q_gini, q_lorenz)
  * and deliberately do NOT unpersist — the returned DataFrame is lazy,
  * so the cache must outlive the call. Every harness entry point
  * (Bench, Verify, ScaleSmoke, the specs) calls
  * `spark.catalog.clearCache()` after consuming each query; any OTHER
  * caller embedding these in a long-lived session owns that cleanup.
  */
object Mining {

  /** Global 1-based rank `i` over (rev, sk) — ties broken by sk — via
    * the banded prefix sum ([[Banding.sumsBefore]], banded on the
    * monotone double image of `rev`): bit-identical to row_number over
    * an (impossible-at-scale) global sort. Input: columns (sk: long,
    * rev: decimal), already persisted by the caller (three branches read
    * it). Output: input plus `i: long`.
    */
  private def bandedRevRank(sup: DataFrame): DataFrame =
    Banding.sumsBefore(sup, col("rev"), Seq(col("rev"), col("sk")),
        Seq("i" -> lit(1L)))
      .withColumn("i", col("i") + 1)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Market-basket association rules (apriori, one pair level): baskets
    // are orders, items are parts. Shape at 100 TB: the basket table
    // map-combines to DISTINCT (order, item) once; the apriori prune
    // joins items against the frequent-item list BEFORE the pair
    // self-join, so the quadratic step runs only over frequent items
    // within one basket (bounded by basket size, never corpus²); pair
    // counts map-combine on the (x, y) key. Confidence/lift are fixed
    // double expressions over exact integer counts.
    "q_assoc_rules" -> ((s, dir) => {
      val minSup = 3L
      val b = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
        .distinct()
        .persist()
      val nOrders = b.agg(countDistinct("ok").as("n_orders"))
      val items = b.groupBy("item").agg(count(lit(1)).as("icnt"))
        .filter(col("icnt") >= minSup)
        .persist()
      val fb = b.join(items.select("item"), "item") // apriori prune
      // pair generation is MAP-SIDE off the per-basket sorted item list
      // (the canonical MapReduce "pairs" program): one shuffle groups
      // each basket, then every x<y pair explodes locally — work bounded
      // by basket size², never a sorted self-join exchange of the corpus
      val baskets = fb.groupBy("ok")
        .agg(sort_array(collect_list(col("item"))).as("items"))
      val pairs = baskets
        .select(explode(expr(
          """flatten(transform(items, (x, i) ->
               transform(slice(items, i + 2, size(items)),
                 y -> struct(x AS x, y AS y))))""")).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(count(lit(1)).as("pcnt"))
        .filter(col("pcnt") >= minSup)
        // both union arms below read this frame — unpersisted, the whole
        // basket-explode + pair-count subtree planned (and ran) TWICE
        // (round-16 plan audit: two copies of Exchange/HashAggregate
        // chains). Frequent pairs are support-pruned and tiny; released
        // by the harness' per-query clearCache (the q_dsir convention).
        .persist()
      val rules = pairs.select(col("x").as("antecedent"),
          col("y").as("consequent"), col("pcnt"))
        .unionAll(pairs.select(col("y").as("antecedent"),
          col("x").as("consequent"), col("pcnt")))
      rules
        .join(items.withColumnRenamed("item", "antecedent")
          .withColumnRenamed("icnt", "ia"), "antecedent")
        .join(items.withColumnRenamed("item", "consequent")
          .withColumnRenamed("icnt", "ic"), "consequent")
        .crossJoin(broadcast(nOrders))
        .select(col("antecedent"), col("consequent"),
          col("pcnt").cast(LongType).as("support_cnt"),
          round(col("pcnt").cast(DoubleType) / col("ia"), 6).as("confidence"),
          round((col("pcnt").cast(DoubleType) / col("ia")) /
            (col("ic").cast(DoubleType) / col("n_orders")), 6).as("lift"))
    }),

    // Conversion funnel with per-step time bounds: first view → first
    // click within 24h → first purchase within 72h, per user. Three
    // chained (filter → per-user min) aggregates, each one shuffle on
    // user_id — the event stream itself is scanned with a pushed
    // event_type filter each pass and never materialized per-user.
    // Timestamps compare as exact integer microseconds.
    "q_funnel_steps" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val c = ev.filter(col("event_type") === "click").as("e")
        .join(v, "user_id")
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val p = ev.filter(col("event_type") === "purchase").as("e")
        .join(c, "user_id")
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 72 HOURS"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      val nU = ev.agg(countDistinct("user_id").as("n_users"))
      val nV = v.agg(count(lit(1)).as("n_viewed"))
      val nC = c.agg(count(lit(1)).as("n_clicked"))
      val nP = p.agg(count(lit(1)).as("n_purchased"))
      nU.crossJoin(broadcast(nV)).crossJoin(broadcast(nC))
        .crossJoin(broadcast(nP))
        .withColumn("view_to_purchase",
          round(col("n_purchased").cast(DoubleType) / col("n_viewed"), 6))
    }),

    // Last-touch attribution: each purchase is credited to the user's
    // most recent preceding non-purchase event (the marketing-analytics
    // workhorse). ONE shuffle on user_id for the ordered window (frame
    // ends at -1 ⇒ strictly-before semantics; ties broken by event_id so
    // both engines pick the same touch); purchase values stage through
    // decimal so the per-channel sums are partition-order-independent.
    "q_attribution" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, dir, "events")
        .withColumn("touch",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("none")).as("touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType)
            .as("attributed_value"))
    }),

    // Series autocorrelation (lags 1..7) of the daily event count — the
    // periodicity probe for ingest-volume monitoring. The corpus
    // map-combines to one row per DAY, so everything after the first
    // aggregate runs on a calendar-bounded table; each lag pairs days
    // via an equi-join on (day + lag), no unpartitioned running window.
    // acf_k folds exact integer sums (Σx, Σx², Σ x_t·x_{t+k}) through a
    // FIXED double expression — deterministic across engines.
    "q_acf" -> ((s, dir) => {
      val d = Tables(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast(LongType).as("x"))
        .persist()
      val g = d.agg(count(lit(1)).cast(LongType).as("n"),
        sum("x").cast(LongType).as("s"),
        sum(col("x") * col("x")).cast(LongType).as("q"))
      val lags = s.range(1, 8).select(col("id").cast(IntegerType).as("lag"))
      val pairs = d.as("a").crossJoin(broadcast(lags))
        .join(d.as("c"),
          col("c.day") === date_add(col("a.day"), col("lag")))
        .groupBy("lag")
        .agg(count(lit(1)).cast(LongType).as("n_pairs"),
          sum(col("a.x") * col("c.x")).cast(LongType).as("p"),
          sum(col("a.x") + col("c.x")).cast(LongType).as("t"))
      val m = col("s").cast(DoubleType) / col("n")
      pairs.crossJoin(broadcast(g))
        .select(col("lag"), col("n_pairs"),
          round((col("p").cast(DoubleType) - m * col("t") +
            col("n_pairs") * m * m) /
            (col("q").cast(DoubleType) - lit(2) * m * col("s") +
              col("n") * m * m), 6).as("acf"))
    }),

    // Top event paths (order-2 sequence mining — the product-analytics
    // complement of q_event_transitions' order-1 Markov matrix): each
    // user's consecutive 3-event windows via two lead() calls on ONE
    // user-partitioned window (ts, event_id tie-break both engines),
    // path counts map-combine, top-10 via TakeOrderedAndProject with a
    // path tie-break — no global sort.
    "q_top_paths" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events")
        .select(col("event_type").as("e1"),
          lead(col("event_type"), 1).over(w).as("e2"),
          lead(col("event_type"), 2).over(w).as("e3"))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(10)
    }),

    // RFM customer segmentation: recency / frequency / monetary quartile
    // scores. The scale-correct scoring path (the q_equidepth pattern):
    // exact type-7 quartile cutpoints computed per metric on the
    // customer-grain aggregate, broadcast as ONE row, scores assigned
    // map-side — no global ntile sort over the customer corpus. Output
    // is the 4³-bounded segment table with a custkey checksum proving
    // WHICH customers landed in each cell.
    "q_rfm" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val nowd = o.agg(max(to_date(col("o_orderdate"))).as("mx"))
      val cust = o.groupBy(col("o_custkey").as("ck"))
        .agg(max(to_date(col("o_orderdate"))).as("lastd"),
          count(lit(1)).cast(LongType).as("freq"),
          sum(col("o_totalprice").cast(DecimalType(18, 6)))
            .cast(DoubleType).as("monetary"))
        .crossJoin(broadcast(nowd))
        .withColumn("recency", datediff(col("mx"), col("lastd")).cast(LongType))
        .persist()
      // all 9 quartile cutpoints from ONE grouped bounded histogram walk
      // (metric is the group key — 3 groups, never `percentile`'s
      // whole-customer-column buffer), unpivoted via stack so recency /
      // freq / monetary share the stats + histogram passes
      val q = graft.operators.Holistic.exactQuantilesBy(
          cust.select(expr("stack(3, 'r', cast(recency as double), " +
            "'f', cast(freq as double), 'm', monetary) as (metric, x)")),
          Seq("metric"), "x", Seq(0.25, 0.5, 0.75))
        .map(g => g.key.head.asInstanceOf[String] -> g.qs).toMap
      def score(x: Column, qs: Seq[Double]): Column =
        (lit(1) + (x > lit(qs(0))).cast(IntegerType) +
          (x > lit(qs(1))).cast(IntegerType) +
          (x > lit(qs(2))).cast(IntegerType)).cast(LongType)
      cust
        .select(
          score(col("recency"), q("r")).as("r_score"),
          score(col("freq"), q("f")).as("f_score"),
          score(col("monetary"), q("m")).as("m_score"),
          col("ck"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_customers"),
          sum("ck").cast(LongType).as("custkey_sum"))
    }),

    // Cohort lifetime-value curve (the revenue companion of
    // q_cohort_retention): users cohorted by first-seen epoch-day,
    // purchase revenue bucketed by day offset, cumulative LTV-per-user
    // via a window over the cohort×offset-bounded cell table. Exact
    // integer day arithmetic; revenue stages through decimal so the
    // running sums are partition-order-independent.
    "q_cohort_ltv" -> ((s, dir) => {
      def epochDay(c: Column): Column =
        (unix_seconds(date_trunc("day", c)) / 86400).cast(LongType)
      val ev = Tables(s, dir, "events")
      val coh = ev.groupBy("user_id").agg(min("ts").as("first_ts"))
        .select(col("user_id"), epochDay(col("first_ts")).as("cohort_day"))
      val cs = coh.groupBy("cohort_day")
        // coh is one row per user by construction — plain count, no
        // distinct expand pass
        .agg(count(lit(1)).cast(LongType).as("n_users"))
      val cell = ev.filter(col("event_type") === "purchase")
        .join(coh, "user_id")
        .groupBy(col("cohort_day"),
          (epochDay(col("ts")) - col("cohort_day")).as("offset_day"))
        .agg(sum(col("value").cast(DecimalType(18, 6))).as("rev"))
      val w = Window.partitionBy("cohort_day").orderBy("offset_day")
      cell.join(cs, "cohort_day")
        .withColumn("cum", sum("rev").over(w))
        .select(col("cohort_day"), col("offset_day"), col("n_users"),
          col("rev").cast(DoubleType).as("revenue"),
          round(col("cum").cast(DoubleType) / col("n_users"), 6)
            .as("cum_ltv_per_user"))
    }),

    // Lorenz concentration curve (the decile view behind q_gini's single
    // coefficient): suppliers ranked by exact-decimal revenue with a
    // suppkey tie-break via the BANDED global rank (see bandedRevRank —
    // no corpus-grain unpartitioned window), decile assignment by the
    // exact ntile arithmetic on (rank, n) so the result is identical to
    // ntile(10) without its single-task sort. Per-decile and cumulative
    // revenue shares from exact decimal sums — ONE double division per
    // surfaced cell, round(,6); the only unpartitioned windows left run
    // on the ≤1024-row band table and the 10-row decile table.
    "q_lorenz" -> ((s, dir) => {
      val sup = Tables(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("sk"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).as("rev"))
        .persist() // feeds the rank, the count and the total
      val nrow = sup.agg(count(lit(1)).cast(LongType).as("n"))
      // ntile(k) assigns the first n%k buckets ceil(n/k) rows and the
      // rest floor(n/k) — reproduced exactly from the global rank with
      // integer arithmetic (rem = n%10 never exceeds 9, so the otherwise
      // branch only runs where sz >= 1).
      val r = bandedRevRank(sup).crossJoin(broadcast(nrow))
        .withColumn("sz", expr("n div 10"))
        .withColumn("rem", col("n") - col("sz") * 10)
        .withColumn("decile",
          when(col("i") <= col("rem") * (col("sz") + 1),
            expr("(i - 1) div (sz + 1) + 1"))
          .otherwise(expr("rem + (i - rem * (sz + 1) - 1) div sz + 1"))
          .cast(LongType))
      val t = sup.agg(sum("rev").as("tot"))
      val d = r.groupBy("decile")
        .agg(count(lit(1)).as("n_suppliers"), sum("rev").as("drev"))
        .persist() // 10 rows, read by both the cum join sides
      // cumulative decile revenue via a ≤10×10 broadcast theta join —
      // exact decimal sums are order-insensitive, and the query stays
      // free of unpartitioned windows end to end
      val dc = d.join(
          broadcast(d.select(col("decile").as("d2"), col("drev").as("drev2"))),
          col("d2") <= col("decile"))
        .groupBy("decile", "n_suppliers", "drev")
        .agg(sum("drev2").as("cum_drev"))
      dc.crossJoin(broadcast(t))
        .withColumn("rev_share",
          round(col("drev").cast(DoubleType) / col("tot").cast(DoubleType), 6))
        .withColumn("cum_share",
          round(col("cum_drev").cast(DoubleType) / col("tot").cast(DoubleType), 6))
        .select("decile", "n_suppliers", "rev_share", "cum_share")
    }),

    // Stationary distribution of the event-transition Markov chain (the
    // fixed point q_event_transitions' matrix converges to): 3 unrolled
    // power iterations from the uniform vector, each ONE states²-bounded
    // join + a sorted-order fold (v·p products added in state order —
    // identical IEEE sequence both engines), intermediate vectors pinned
    // at round(,12) so the per-iteration results are bit-stable.
    "q_markov_stationary" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val t = Tables(s, dir, "events")
        .select(col("event_type").as("a"),
          lead(col("event_type"), 1).over(w).as("b"))
        .filter(col("b").isNotNull)
        .groupBy("a", "b").agg(count(lit(1)).as("n"))
        .persist()
      val rt = t.groupBy("a").agg(sum("n").as("tot"))
      val p = t.join(rt, "a")
        .select(col("a"), col("b"),
          (col("n").cast(DoubleType) / col("tot")).as("p"))
        .persist()
      val k = t.select(col("a")).distinct()
        .agg(count(lit(1)).as("k"))
      var v = t.select(col("a").as("s")).distinct()
        .crossJoin(broadcast(k))
        .select(col("s"), (lit(1.0) / col("k")).as("v"))
      // release discipline (round-15 ADVICE): the final ≤#states-row
      // vector is materialized ONCE below (localCheckpoint — the
      // connectedComponents convention), after which every iteration
      // cache plus t/p unpersists immediately; the returned frame reads
      // the checkpointed rows and references none of the five persisted
      // frames, so nothing leaks into a long-lived session. (Unpersisting
      // while the returned plan still REFERENCED the caches measured
      // 2.2 → 4.8 s: the non-cascading uncache invalidates the dependent
      // cache entries and the final action re-ran the whole unrolled
      // tree cache-less.)
      val raws = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.DataFrame]
      (1 to 3).foreach { _ =>
        val raw = v.join(p, col("s") === col("a"))
          .groupBy(col("b"))
          .agg(sort_array(collect_list(struct(col("a"),
            (col("v") * col("p")).as("prod")))).as("cl"))
          .select(col("b").as("s"),
            round(expr("aggregate(cl, 0.0D, (x, y) -> x + y.prod)"), 12).as("v"))
          // states-bounded (≤ #event_types rows). Without the persist the
          // mass branch and the v branch each re-evaluate this subtree,
          // and the duplication NESTS across the three unrolled
          // iterations (~2^3 evaluations of iteration 1) — round-15
          // measured 3.88 → 1.89 s MIN-of-reps from these three caches
          .persist()
        raws += raw
        // renormalize: a state that only ever appears as a TARGET (no
        // outgoing transitions) would otherwise swallow its inbound mass
        // at the next join and pi would stop being a distribution — the
        // standard sink-state handling for power iteration. Σv folds in
        // state order so both engines divide by the identical double.
        val mass = raw
          .agg(sort_array(collect_list(struct(col("s"), col("v")))).as("ml"))
          .select(expr("aggregate(ml, 0.0D, (x, y) -> x + y.v)").as("m"))
        v = raw.crossJoin(broadcast(mass))
          .select(col("s"), round(col("v") / col("m"), 12).as("v"))
      }
      val out = v.select(col("s").as("state"), round(col("v"), 6).as("pi"))
        .localCheckpoint(true)
      raws.foreach(_.unpersist())
      t.unpersist(); p.unpersist()
      out
    }),

    // Revenue concentration (Gini coefficient) across suppliers — the
    // "is one domain dominating the mixture" audit. Corpus map-combines
    // to one exact-decimal revenue row per supplier; the Σ i·xᵢ rank
    // fold distributes via the banded global rank (see bandedRevRank) —
    // domains in a 100 TB web corpus are tens of millions, so even the
    // dimension table never funnels through one sort task. All sums are
    // exact decimals; ONE double division at the end, round(,6).
    "q_gini" -> ((s, dir) => {
      val sup = Tables(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("sk"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).as("rev"))
        .persist() // bandedRevRank reads it from three branches
      val ranked = bandedRevRank(sup)
      ranked.agg(count(lit(1)).cast(LongType).as("n"),
          sum("rev").as("tot"),
          sum(col("i") * col("rev")).as("s1"))
        .select(col("n").as("n_suppliers"),
          col("tot").cast(DoubleType).as("total_revenue"),
          round((lit(2) * col("s1") - (col("n") + 1) * col("tot"))
            .cast(DoubleType) /
            (col("n") * col("tot")).cast(DoubleType), 6).as("gini"))
    }),

    // Benford first-digit audit of l_extendedprice — the fabricated-data
    // smell test. Digit extraction stays in exact integer domain (cents
    // as BIGINT, first digit via integer-to-string — no float log10
    // whose floor could disagree at powers of ten); counts map-combine
    // to 9 rows. benford_frac = log10(1+1/d) is the only irrational,
    // rounded at the surface.
    "q_benford" -> ((s, dir) => {
      val d = Tables(s, dir, "lineitem")
        .select(substring(round(col("l_extendedprice") * 100, 0)
          .cast(LongType).cast(StringType), 1, 1).cast(LongType).as("digit"))
      val c = d.groupBy("digit").agg(count(lit(1)).cast(LongType).as("cnt"))
      val n = c.agg(sum("cnt").cast(LongType).as("n"))
      c.crossJoin(broadcast(n))
        .select(col("digit"), col("cnt"),
          round(col("cnt").cast(DoubleType) / col("n"), 6).as("obs_frac"),
          round(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 6)
            .as("benford_frac"))
    })
  )

  val oracles: Map[String, String] = Map(

    "q_assoc_rules" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
           FROM lineitem),
         n AS (SELECT count(DISTINCT ok) AS n_orders FROM b),
         items AS (SELECT item, count(*) AS icnt FROM b GROUP BY 1
           HAVING count(*) >= 3),
         pairs AS (
           SELECT a.item AS x, c.item AS y, count(*) AS pcnt
           FROM b a JOIN items ia ON ia.item = a.item
           JOIN b c ON a.ok = c.ok AND a.item < c.item
           JOIN items ic ON ic.item = c.item
           GROUP BY 1, 2 HAVING count(*) >= 3),
         rules AS (
           SELECT x AS antecedent, y AS consequent, pcnt FROM pairs
           UNION ALL
           SELECT y, x, pcnt FROM pairs)
         SELECT r.antecedent, r.consequent,
           CAST(r.pcnt AS BIGINT) AS support_cnt,
           round(CAST(r.pcnt AS DOUBLE) / ia.icnt, 6) AS confidence,
           round((CAST(r.pcnt AS DOUBLE) / ia.icnt) /
             (CAST(ic.icnt AS DOUBLE) / n.n_orders), 6) AS lift
         FROM rules r JOIN items ia ON ia.item = r.antecedent
         JOIN items ic ON ic.item = r.consequent, n""",

    "q_funnel_steps" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts) AS t2
           FROM events e JOIN v ON e.user_id = v.user_id
           WHERE e.event_type = 'click' AND e.ts > v.t1
             AND e.ts <= v.t1 + INTERVAL 24 HOURS GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts) AS t3
           FROM events e JOIN c ON e.user_id = c.user_id
           WHERE e.event_type = 'purchase' AND e.ts > c.t2
             AND e.ts <= c.t2 + INTERVAL 72 HOURS GROUP BY 1)
         SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
           (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM c) AS n_clicked,
           (SELECT count(*) FROM p) AS n_purchased,
           round(CAST((SELECT count(*) FROM p) AS DOUBLE) /
             (SELECT count(*) FROM v), 6) AS view_to_purchase""",

    "q_attribution" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
           FROM events)
         SELECT coalesce(touch, 'none') AS touch_type,
           count(*) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             AS attributed_value
         FROM e WHERE event_type = 'purchase'
         GROUP BY 1""",

    "q_acf" ->
      """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS q FROM d),
         l AS (SELECT lag.lag AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(a.x * c.x) AS BIGINT) AS p,
             CAST(sum(a.x + c.x) AS BIGINT) AS t
           FROM (SELECT unnest(generate_series(1, 7)) AS lag) lag
           JOIN d a ON true
           JOIN d c ON c.day = a.day + CAST(lag.lag AS INTEGER)
           GROUP BY 1)
         SELECT CAST(l.lag AS INTEGER) AS lag, l.n_pairs,
           round((CAST(l.p AS DOUBLE) - (CAST(g.s AS DOUBLE) / g.n) * l.t
               + l.n_pairs * (CAST(g.s AS DOUBLE) / g.n) *
                 (CAST(g.s AS DOUBLE) / g.n))
             / (CAST(g.q AS DOUBLE) - 2 * (CAST(g.s AS DOUBLE) / g.n) * g.s
               + g.n * (CAST(g.s AS DOUBLE) / g.n) *
                 (CAST(g.s AS DOUBLE) / g.n)), 6) AS acf
         FROM l, g""",

    "q_top_paths" ->
      """WITH e AS (
           SELECT user_id, event_type,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS e2,
             lead(event_type, 2) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS e3
           FROM events),
         p AS (SELECT event_type || '>' || e2 || '>' || e3 AS path,
             count(*) AS n
           FROM e WHERE e2 IS NOT NULL AND e3 IS NOT NULL GROUP BY 1)
         SELECT path, n FROM p ORDER BY n DESC, path LIMIT 10""",

    "q_rfm" ->
      """WITH nowd AS (SELECT max(o_orderdate) AS mx FROM orders),
         cust AS (
           SELECT o_custkey AS ck,
             CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
               CAST((SELECT mx FROM nowd) AS DATE)) AS BIGINT) AS recency,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS monetary
           FROM orders GROUP BY 1),
         q AS (SELECT
             quantile_cont(recency, 0.25) AS r1,
             quantile_cont(recency, 0.5) AS r2,
             quantile_cont(recency, 0.75) AS r3,
             quantile_cont(freq, 0.25) AS f1,
             quantile_cont(freq, 0.5) AS f2,
             quantile_cont(freq, 0.75) AS f3,
             quantile_cont(monetary, 0.25) AS m1,
             quantile_cont(monetary, 0.5) AS m2,
             quantile_cont(monetary, 0.75) AS m3
           FROM cust)
         SELECT
           CAST(1 + CAST(recency > r1 AS INTEGER)
             + CAST(recency > r2 AS INTEGER)
             + CAST(recency > r3 AS INTEGER) AS BIGINT) AS r_score,
           CAST(1 + CAST(freq > f1 AS INTEGER)
             + CAST(freq > f2 AS INTEGER)
             + CAST(freq > f3 AS INTEGER) AS BIGINT) AS f_score,
           CAST(1 + CAST(monetary > m1 AS INTEGER)
             + CAST(monetary > m2 AS INTEGER)
             + CAST(monetary > m3 AS INTEGER) AS BIGINT) AS m_score,
           count(*) AS n_customers,
           CAST(sum(ck) AS BIGINT) AS custkey_sum
         FROM cust, q GROUP BY 1, 2, 3""",

    "q_cohort_ltv" ->
      """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
         coh AS (SELECT user_id,
             CAST(epoch(date_trunc('day', first_ts)) AS BIGINT) // 86400
               AS cohort_day
           FROM f),
         cs AS (SELECT cohort_day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           FROM coh GROUP BY 1),
         cell AS (SELECT coh.cohort_day,
             CAST(CAST(epoch(date_trunc('day', e.ts)) AS BIGINT) // 86400
               - coh.cohort_day AS BIGINT) AS offset_day,
             CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS rev
           FROM events e JOIN coh ON e.user_id = coh.user_id
           WHERE e.event_type = 'purchase'
           GROUP BY 1, 2)
         SELECT cell.cohort_day, cell.offset_day, cs.n_users,
           CAST(cell.rev AS DOUBLE) AS revenue,
           round(CAST(SUM(cell.rev) OVER (PARTITION BY cell.cohort_day
               ORDER BY cell.offset_day) AS DOUBLE) / cs.n_users, 6)
             AS cum_ltv_per_user
         FROM cell JOIN cs ON cs.cohort_day = cell.cohort_day""",

    "q_lorenz" ->
      """WITH s AS (SELECT l_suppkey AS sk,
             SUM(CAST(l_extendedprice * (1.0 - l_discount)
               AS DECIMAL(18,6))) AS rev
           FROM lineitem GROUP BY 1),
         r AS (SELECT sk, rev,
             ntile(10) OVER (ORDER BY rev, sk) AS decile FROM s),
         t AS (SELECT CAST(SUM(rev) AS DECIMAL(38,6)) AS tot FROM s),
         d AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(SUM(rev) AS DECIMAL(38,6)) AS drev FROM r GROUP BY 1)
         SELECT CAST(d.decile AS BIGINT) AS decile, d.n_suppliers,
           round(CAST(d.drev AS DOUBLE) / CAST(t.tot AS DOUBLE), 6)
             AS rev_share,
           round(CAST(SUM(d.drev) OVER (ORDER BY d.decile) AS DOUBLE)
             / CAST(t.tot AS DOUBLE), 6) AS cum_share
         FROM d, t""",

    "q_markov_stationary" ->
      """WITH e AS (
           SELECT user_id, event_type AS a,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS b
           FROM events),
         t AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
           FROM e WHERE b IS NOT NULL GROUP BY 1, 2),
         rt AS (SELECT a, CAST(SUM(n) AS BIGINT) AS tot FROM t GROUP BY 1),
         p AS (SELECT t.a, t.b, CAST(t.n AS DOUBLE) / rt.tot AS p
           FROM t JOIN rt ON t.a = rt.a),
         states AS (SELECT DISTINCT a AS s FROM t),
         ns AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
         v0 AS (SELECT s, 1.0 / (SELECT k FROM ns) AS v FROM states),
         v1r AS (SELECT p.b AS s, round(list_reduce(list_prepend(0.0,
             list(v0.v * p.p ORDER BY p.a)), (x, y) -> x + y), 12) AS v
           FROM p JOIN v0 ON v0.s = p.a GROUP BY p.b),
         v1 AS (SELECT s, round(v / (SELECT list_reduce(list_prepend(0.0,
             list(v ORDER BY s)), (x, y) -> x + y) FROM v1r), 12) AS v
           FROM v1r),
         v2r AS (SELECT p.b AS s, round(list_reduce(list_prepend(0.0,
             list(v1.v * p.p ORDER BY p.a)), (x, y) -> x + y), 12) AS v
           FROM p JOIN v1 ON v1.s = p.a GROUP BY p.b),
         v2 AS (SELECT s, round(v / (SELECT list_reduce(list_prepend(0.0,
             list(v ORDER BY s)), (x, y) -> x + y) FROM v2r), 12) AS v
           FROM v2r),
         v3r AS (SELECT p.b AS s, round(list_reduce(list_prepend(0.0,
             list(v2.v * p.p ORDER BY p.a)), (x, y) -> x + y), 12) AS v
           FROM p JOIN v2 ON v2.s = p.a GROUP BY p.b),
         v3 AS (SELECT s, round(v / (SELECT list_reduce(list_prepend(0.0,
             list(v ORDER BY s)), (x, y) -> x + y) FROM v3r), 12) AS v
           FROM v3r)
         SELECT s AS state, round(v, 6) AS pi FROM v3""",

    "q_gini" ->
      """WITH s AS (SELECT l_suppkey AS sk,
             SUM(CAST(l_extendedprice * (1.0 - l_discount)
               AS DECIMAL(18,6))) AS rev
           FROM lineitem GROUP BY 1),
         r AS (SELECT sk, rev,
             row_number() OVER (ORDER BY rev, sk) AS i FROM s),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(rev) AS tot,
             SUM(i * rev) AS s1 FROM r)
         SELECT n AS n_suppliers, CAST(tot AS DOUBLE) AS total_revenue,
           round(CAST(2 * s1 - (n + 1) * tot AS DOUBLE) /
             CAST(n * tot AS DOUBLE), 6) AS gini
         FROM a""",

    "q_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100)
             AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
           FROM lineitem),
         c AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt
           FROM d GROUP BY 1),
         n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
         SELECT digit, cnt,
           round(CAST(cnt AS DOUBLE) / n, 6) AS obs_frac,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_frac
         FROM c, n"""
  )
}
