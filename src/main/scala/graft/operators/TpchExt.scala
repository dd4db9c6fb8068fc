package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** The eight TPC-H shapes the driver fixtures couldn't express until the
  * missing inputs were synthesized: Q2/Q9/Q11/Q16/Q20 need `partsupp`,
  * Q4/Q12 need commit/receipt dates and ship modes on lineitem, Q22
  * needs customer phone country codes. All derived inputs follow the
  * `Multimodal.ensureMediaStore` rule (Multimodal.scala:64): the
  * construction is a deterministic, SQL-expressible function of the
  * existing fixture tables, so the DuckDB oracle rebuilds the identical
  * side table from a CTE without ever reading Spark's copy — the
  * correctness gate stays end-to-end.
  *
  * Reference precedent: every one of these is a multi-stage map/reduce
  * program over the reference's `mapfn`/`reducefn` surface
  * (mincemeat.py:167-182); here they are single declarative Catalyst
  * plans with the join/pushdown discipline of the existing q_tpch_*
  * family (broadcast every dim chain, one fact shuffle, TakeOrdered for
  * top-k).
  *
  * Scale notes: `partsupp` is a one-time persisted ingest (4 rows per
  * part — at 100 TB a real catalog table), never re-derived per query;
  * the lineitem date/shipmode derivations are map-side column adds that
  * fuse into the scan stage (no shuffle, no extra pass).
  */
object TpchExt {

  /** One-time synthesized `partsupp` side table. TWO construction
    * sources, unioned and de-duplicated:
    *   1. lineitem's own DISTINCT (l_partkey, l_suppkey) pairs — this is
    *      the TPC-H referential invariant (every lineitem row has a
    *      partsupp match), and what makes Q9's profit join and Q20's
    *      availqty-vs-shipped comparison cover the WHOLE fact rather
    *      than an accidental-match subset;
    *   2. a quarter-stride supplier ring over every part (keys fan out
    *      across the 0-based contiguous supplier id space), so parts
    *      that never shipped still carry supplier rows (Q2/Q11/Q16
    *      browse the full catalog).
    * availqty/supplycost are exact integer/two-decimal functions of
    * (partkey, suppkey) — NOT of the construction path — so the two
    * sources agree wherever they overlap and the set-UNION dedup is
    * value-consistent (this also makes composite-key uniqueness hold by
    * construction, with no reliance on the ring being collision-free at
    * any supplier count). Written to parquet once per sf dir; queries
    * read the store (one-time ingest ≠ query cost, the q_scan_zorder
    * convention) while oracles rebuild it from the same arithmetic in a
    * CTE ([[psCte]]).
    */
  def ensurePartsuppStore(s: SparkSession, dir: String): DataFrame =
    Sources.parquetStore(s, dir, "partsupp_v2") {
      val sc = Tables(s, dir, "supplier")
        .agg(count(lit(1)).cast(LongType).as("scnt"))
      val ring = Tables(s, dir, "part").select(col("p_partkey"))
        .crossJoin(s.range(4).select(col("id").as("i")))
        .crossJoin(broadcast(sc))
        .select(col("p_partkey").as("pk"),
          ((col("p_partkey") + col("i") * expr("(scnt + 3) div 4"))
            % col("scnt")).as("sk"))
      val shipped = Tables(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      ring.union(shipped).distinct()
        .select(
          col("pk").as("ps_partkey"),
          col("sk").as("ps_suppkey"),
          (lit(1L) + (col("pk") * 4 + col("sk") * 7) % 9999)
            .as("ps_availqty"),
          (lit(1.0) + ((col("pk") * 7 + col("sk") * 13) % 80000)
            / lit(100.0)).cast(DecimalType(12, 2)).as("ps_supplycost"))
    }

  /** DuckDB CTE rebuilding [[ensurePartsuppStore]]'s table verbatim —
    * spliced into every oracle that touches partsupp.
    */
  private val psCte =
    """sc AS (SELECT CAST(count(*) AS BIGINT) AS scnt FROM supplier),
       pskeys AS (
         SELECT p_partkey AS pk,
                (p_partkey + t.i * ((sc.scnt + 3) // 4)) % sc.scnt AS sk
         FROM part, sc, (SELECT CAST(range AS BIGINT) AS i FROM range(4)) t
         UNION
         SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
       partsupp AS (
         SELECT pk AS ps_partkey, sk AS ps_suppkey,
                CAST(1 + (pk * 4 + sk * 7) % 9999 AS BIGINT) AS ps_availqty,
                CAST(1.00 + ((pk * 7 + sk * 13) % 80000) / 100.0
                  AS DECIMAL(12,2)) AS ps_supplycost
         FROM pskeys)"""

  /** Lineitem plus the three derived columns Q4/Q12 need. Map-side only:
    * commit date lands in shipdate ± 30 days, receipt in shipdate + 1..30
    * (so commit < receipt splits both ways), ship mode cycles the seven
    * TPC-H modes — all exact integer arithmetic on the row's keys, so
    * DuckDB derives bit-identical columns ([[lxCte]]).
    */
  private def lx(s: SparkSession, dir: String): DataFrame = {
    val modes = Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
    Tables(s, dir, "lineitem")
      .withColumn("l_commitdate", date_add(to_date(col("l_shipdate")),
        ((col("l_orderkey") * 3 + col("l_partkey") * 5 + col("l_linenumber"))
          % 61 - 30).cast(IntegerType)))
      .withColumn("l_receiptdate", date_add(to_date(col("l_shipdate")),
        (lit(1) + (col("l_orderkey") * 7 + col("l_suppkey") * 11
          + col("l_linenumber")) % 30).cast(IntegerType)))
      .withColumn("l_shipmode", element_at(
        array(modes.map(lit): _*),
        ((col("l_orderkey") * 5 + col("l_linenumber") * 3 + col("l_partkey"))
          % 7 + 1).cast(IntegerType)))
  }

  private val lxCte =
    """lx AS (
         SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice,
                l_discount, l_shipdate,
                CAST(l_shipdate AS DATE)
                  + CAST((l_orderkey*3 + l_partkey*5 + l_linenumber) % 61 - 30
                      AS INTEGER) AS l_commitdate,
                CAST(l_shipdate AS DATE)
                  + CAST(1 + (l_orderkey*7 + l_suppkey*11 + l_linenumber) % 30
                      AS INTEGER) AS l_receiptdate,
                CASE (l_orderkey*5 + l_linenumber*3 + l_partkey) % 7
                  WHEN 0 THEN 'REG AIR' WHEN 1 THEN 'AIR' WHEN 2 THEN 'RAIL'
                  WHEN 3 THEN 'SHIP' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'MAIL'
                  ELSE 'FOB' END AS l_shipmode
         FROM lineitem)"""

  /** Supplier plus the derived address/phone/comment columns Q2 surfaces
    * and Q16 filters on (suppkey % 10 == 3 marks the complaint rows).
    */
  private def sx(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "supplier")
      .withColumn("s_address", concat(lit("ADDR_"), col("s_suppkey").cast(StringType)))
      .withColumn("s_phone", concat(
        (col("s_nationkey") + 10).cast(StringType), lit("-"),
        lpad(((col("s_suppkey") * 53) % 10000).cast(StringType), 4, "0")))
      .withColumn("s_comment",
        when(col("s_suppkey") % 10 === 3,
          lit("Customer service Complaints pending review"))
        .otherwise(concat(lit("no recent remarks for supplier "),
          col("s_suppkey").cast(StringType))))

  private val sxCte =
    """sx AS (
         SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
                'ADDR_' || CAST(s_suppkey AS VARCHAR) AS s_address,
                CAST(10 + s_nationkey AS VARCHAR) || '-'
                  || lpad(CAST((s_suppkey*53) % 10000 AS VARCHAR), 4, '0') AS s_phone,
                CASE WHEN s_suppkey % 10 = 3
                     THEN 'Customer service Complaints pending review'
                     ELSE 'no recent remarks for supplier '
                          || CAST(s_suppkey AS VARCHAR) END AS s_comment
         FROM supplier)"""

  /** Customer plus the derived phone: country code = 10 + nationkey, so
    * substring(phone,1,2) is always a two-digit code in 10..34.
    */
  private def cx(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .withColumn("c_phone", concat(
        (col("c_nationkey") + 10).cast(StringType), lit("-"),
        lpad(((col("c_custkey") * 37) % 10000).cast(StringType), 4, "0")))

  private val cxCte =
    """cx AS (
         SELECT c_custkey, c_acctbal,
                CAST(10 + c_nationkey AS VARCHAR) || '-'
                  || lpad(CAST((c_custkey*37) % 10000 AS VARCHAR), 4, '0') AS c_phone
         FROM customer)"""

  private def ts(d: String): Column = lit(d).cast(TimestampType)
  private def dt(d: String): Column = lit(d).cast(DateType)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Q2 minimum-cost supplier: the region-filtered supplier dim chain
    // (supplier ⋈ nation ⋈ region) broadcasts onto partsupp, the
    // per-part min supplycost comes from a map-combined groupBy (never a
    // window), the min rows join back on (partkey, cost), and the size/
    // type-filtered part dim broadcasts last. Top-100 is
    // TakeOrderedAndProject on a unique composite order.
    "q_tpch_q2" -> ((s, dir) => {
      val ps = ensurePartsuppStore(s, dir)
      val dim = sx(s, dir)
        .join(broadcast(Tables(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables(s, dir, "region")
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
      val eligible = ps.join(broadcast(dim), col("ps_suppkey") === col("s_suppkey"))
        .select("ps_partkey", "ps_supplycost", "s_acctbal", "s_name",
          "s_address", "s_phone", "s_comment", "n_name")
        .persist() // min-agg branch + join-back both read it (one
                   // partsupp scan, not two; harness clearCache contract)
      // re-keyed alias: mn derives from eligible, so joining back on the
      // original column name would be an ambiguous self-join reference
      val mn = eligible.groupBy("ps_partkey")
        .agg(min(col("ps_supplycost")).as("mc"))
        .withColumnRenamed("ps_partkey", "mn_partkey")
      val p = Tables(s, dir, "part")
        .filter(col("p_size") <= 10 && col("p_type") === "PROMO")
        .select(col("p_partkey"),
          concat(lit("Manufacturer#"),
            (col("p_partkey") % 5 + 1).cast(StringType)).as("p_mfgr"))
      eligible.join(mn,
          col("ps_partkey") === col("mn_partkey")
            && col("ps_supplycost") === col("mc"))
        .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_mfgr"), col("s_address"), col("s_phone"),
          col("s_comment"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // Q4 order-priority checking: orders date-filtered (pushed to the
    // scan) left-semi join the late lineitems (commit < receipt) — the
    // EXISTS decorrelates to one shuffle on orderkey.
    "q_tpch_q4" -> ((s, dir) => {
      val late = lx(s, dir).filter(col("l_commitdate") < col("l_receiptdate"))
        .select("l_orderkey")
      Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-07-01")
          && col("o_orderdate") < ts("1996-10-01"))
        .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    }),

    // Q9 product-type profit: the name-filtered part dim broadcasts
    // FIRST (prunes the fact before anything shuffles), partsupp joins
    // on the composite (partkey, suppkey) key, orders adds the year by
    // one orderkey shuffle, and the supplier→nation chain broadcasts.
    // amount = extprice·(1−disc) − supplycost·qty with both terms staged
    // through decimal(18,6) (exact: 2-dp cost × integer qty), so the sum
    // is order-insensitive and engine-identical.
    "q_tpch_q9" -> ((s, dir) => {
      val p = Tables(s, dir, "part").filter(col("p_name").like("%red%"))
        .select("p_partkey")
      val supNat = sx(s, dir)
        .join(broadcast(Tables(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val ps = ensurePartsuppStore(s, dir)
      lx(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(ps, col("l_partkey") === col("ps_partkey")
          && col("l_suppkey") === col("ps_suppkey"))
        .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
        .select(col("n_name").as("nation"),
          year(col("o_orderdate")).cast(LongType).as("o_year"),
          ((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 6))
            - (col("ps_supplycost").cast(DoubleType) * col("l_quantity"))
              .cast(DecimalType(18, 6))).as("amount"))
        .groupBy("nation", "o_year")
        .agg(sum(col("amount")).cast(DoubleType).as("sum_profit"))
    }),

    // Q11 important stock: partsupp ⋈ broadcast region-3 supplier dim,
    // map-combined per-part decimal value sum, and a scale-free
    // threshold (2× the mean part value — TPC-H's 0.0001/SF constant
    // re-expressed without a scale knob) applied via a broadcast 1-row
    // stat join.
    "q_tpch_q11" -> ((s, dir) => {
      val dim = Tables(s, dir, "supplier")
        .join(broadcast(Tables(s, dir, "nation")
          .filter(col("n_regionkey") === 3)),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val v = ensurePartsuppStore(s, dir)
        .join(broadcast(dim), col("ps_suppkey") === col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(sum(col("ps_supplycost") * col("ps_availqty")).as("pv"))
        .persist() // feeds both the threshold and the filter
      val thr = v.agg((sum(col("pv")).cast(DoubleType) * lit(2)
        / count(lit(1))).as("t"))
      v.crossJoin(broadcast(thr))
        .filter(col("pv").cast(DoubleType) > col("t"))
        .select(col("ps_partkey"), col("pv").cast(DoubleType).as("value"))
    }),

    // Q12 shipping modes: the mode/date/late predicates all evaluate
    // map-side on the derived columns (fused into the lineitem scan),
    // then ONE orderkey shuffle joins orders for the priority class
    // counts.
    "q_tpch_q12" -> ((s, dir) => {
      val l = lx(s, dir)
        .filter(col("l_shipmode").isin("MAIL", "SHIP")
          && col("l_commitdate") < col("l_receiptdate")
          && to_date(col("l_shipdate")) < col("l_commitdate")
          && col("l_receiptdate") >= dt("1996-01-01")
          && col("l_receiptdate") < dt("1997-01-01"))
        .select("l_orderkey", "l_shipmode")
      l.join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_shipmode")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
    }),

    // Q16 supplier count by part descriptor: brand/type/size-filtered
    // part dim broadcasts onto partsupp, the complaint suppliers (a
    // suppkey-bounded set) broadcast as a left-anti probe, distinct
    // suppliers per descriptor from one countDistinct shuffle.
    "q_tpch_q16" -> ((s, dir) => {
      val p = Tables(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#13"
          && !col("p_type").like("MEDIUM%")
          && col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_size").cast(LongType).as("p_size"))
      val complaints = sx(s, dir)
        .filter(col("s_comment").like("%Customer%Complaints%"))
        .select("s_suppkey")
      ensurePartsuppStore(s, dir)
        .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(complaints), col("ps_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
    }),

    // Q20 potential part promotion: the correlated availqty > ½·shipped
    // subquery becomes a (partkey, suppkey) equi-join against the
    // map-combined shipped-quantity aggregate (inner join ≡ the NULL-
    // rejecting correlated comparison), part names prune via broadcast,
    // and the surviving supplier keys semi-join the region dim.
    "q_tpch_q20" -> ((s, dir) => {
      val forest = Tables(s, dir, "part")
        .filter(col("p_name").like("cold%")).select("p_partkey")
      val shipped = lx(s, dir)
        .filter(col("l_shipdate") >= ts("1996-01-01")
          && col("l_shipdate") < ts("1997-01-01"))
        .groupBy("l_partkey", "l_suppkey")
        .agg((lit(0.5) * sum(col("l_quantity"))).as("half_qty"))
      val wanted = ensurePartsuppStore(s, dir)
        .join(broadcast(forest), col("ps_partkey") === col("p_partkey"))
        .join(shipped, col("ps_partkey") === col("l_partkey")
          && col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") > col("half_qty"))
        .select("ps_suppkey")
      sx(s, dir)
        .join(broadcast(Tables(s, dir, "nation")
          .filter(col("n_regionkey") === 3)),
          col("s_nationkey") === col("n_nationkey"))
        .join(wanted, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        // TPC-H orders by s_name, but the driver comparator is
        // order-insensitive and there is no LIMIT — a global sort here
        // would be a pure scale anti-pattern (suppliers/domains are
        // millions at 100 TB), so the set is returned unordered
        .select("s_name", "s_address")
    }),

    // Q22 global sales opportunity: country-code slice of the derived
    // phone, positive-balance mean via a broadcast 1-row stat join, and
    // inactive customers via a left-anti join against the date-filtered
    // orders scan (pushed predicate). Balance sums stage through
    // decimal(18,6) on both engines.
    "q_tpch_q22" -> ((s, dir) => {
      val codes = Seq("13", "17", "18", "23", "29", "30", "31")
      val sel = cx(s, dir)
        .withColumn("cntrycode", substring(col("c_phone"), 1, 2))
        .filter(col("cntrycode").isin(codes: _*))
        .select("cntrycode", "c_acctbal", "c_custkey")
        .persist() // read by the mean and the final slice
      val avgbal = sel.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast(DecimalType(18, 6)))
          .cast(DoubleType) / count(lit(1))).as("a"))
      val active = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("2000-01-01"))
        .select("o_custkey")
      sel.crossJoin(broadcast(avgbal))
        .filter(col("c_acctbal") > col("a"))
        .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast(DecimalType(18, 6)))
            .cast(DoubleType).as("totacctbal"))
    }))

  val oracles: Map[String, String] = Map(

    "q_tpch_q2" ->
      s"""WITH $psCte, $sxCte,
         eligible AS (
           SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, s_address,
                  s_phone, s_comment, n_name
           FROM partsupp, sx, nation, region
           WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
             AND n_regionkey = r_regionkey AND r_name = 'EUROPE'),
         mn AS (SELECT ps_partkey, min(ps_supplycost) AS mc
                FROM eligible GROUP BY 1)
         SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey,
                'Manufacturer#' || CAST(1 + p.p_partkey % 5 AS VARCHAR) AS p_mfgr,
                e.s_address, e.s_phone, e.s_comment
         FROM eligible e, mn, part p
         WHERE e.ps_partkey = mn.ps_partkey AND e.ps_supplycost = mn.mc
           AND p.p_partkey = e.ps_partkey AND p.p_size <= 10
           AND p.p_type = 'PROMO'
         ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
         LIMIT 100""",

    "q_tpch_q4" ->
      s"""WITH $lxCte
         SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-07-01'
           AND o_orderdate < TIMESTAMP '1996-10-01'
           AND EXISTS (SELECT 1 FROM lx WHERE l_orderkey = o_orderkey
                       AND l_commitdate < l_receiptdate)
         GROUP BY 1""",

    "q_tpch_q9" ->
      s"""WITH $psCte,
         profit AS (
           SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                  CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
                    - CAST(CAST(ps_supplycost AS DOUBLE) * l_quantity
                        AS DECIMAL(18,6)) AS amount
           FROM lineitem, partsupp, supplier, part, orders, nation
           WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
             AND ps_partkey = l_partkey AND p_partkey = l_partkey
             AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
             AND p_name LIKE '%red%')
         SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
         FROM profit GROUP BY 1, 2""",

    "q_tpch_q11" ->
      s"""WITH $psCte,
         v AS (
           SELECT ps_partkey, SUM(ps_supplycost * ps_availqty) AS pv
           FROM partsupp, supplier, nation
           WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
             AND n_regionkey = 3
           GROUP BY 1),
         thr AS (SELECT CAST(SUM(pv) AS DOUBLE) * 2 / count(*) AS t FROM v)
         SELECT ps_partkey, CAST(pv AS DOUBLE) AS value
         FROM v, thr WHERE CAST(pv AS DOUBLE) > thr.t""",

    "q_tpch_q12" ->
      s"""WITH $lxCte
         SELECT l_shipmode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM orders, lx
         WHERE o_orderkey = l_orderkey AND l_shipmode IN ('MAIL','SHIP')
           AND l_commitdate < l_receiptdate
           AND CAST(l_shipdate AS DATE) < l_commitdate
           AND l_receiptdate >= DATE '1996-01-01'
           AND l_receiptdate < DATE '1997-01-01'
         GROUP BY 1""",

    "q_tpch_q16" ->
      s"""WITH $psCte, $sxCte
         SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
                CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
         FROM partsupp, part
         WHERE p_partkey = ps_partkey AND p_brand <> 'Brand#13'
           AND p_type NOT LIKE 'MEDIUM%'
           AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
           AND ps_suppkey NOT IN (SELECT s_suppkey FROM sx
                                  WHERE s_comment LIKE '%Customer%Complaints%')
         GROUP BY 1, 2, 3""",

    "q_tpch_q20" ->
      s"""WITH $psCte, $sxCte, $lxCte,
         shipped AS (
           SELECT l_partkey, l_suppkey, 0.5 * SUM(l_quantity) AS half_qty
           FROM lx WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'
           GROUP BY 1, 2)
         SELECT s_name, s_address FROM sx, nation
         WHERE s_suppkey IN (
             SELECT ps_suppkey FROM partsupp, shipped
             WHERE ps_partkey IN (SELECT p_partkey FROM part
                                  WHERE p_name LIKE 'cold%')
               AND l_partkey = ps_partkey AND l_suppkey = ps_suppkey
               AND ps_availqty > half_qty)
           AND s_nationkey = n_nationkey AND n_regionkey = 3""",

    "q_tpch_q22" ->
      s"""WITH $cxCte,
         sel AS (SELECT substring(c_phone, 1, 2) AS cntrycode, c_acctbal,
                        c_custkey
                 FROM cx WHERE substring(c_phone, 1, 2)
                   IN ('13','17','18','23','29','30','31')),
         avgbal AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6)))
                      AS DOUBLE) / count(*) AS a
                    FROM sel WHERE c_acctbal > 0.0)
         SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                  AS totacctbal
         FROM sel, avgbal
         WHERE c_acctbal > avgbal.a
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY 1""")
}
