package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Scalar-function coverage (SURVEY.md §2.2 "Scalar functions"): string,
  * date/time, math, array, JSON, and explode/posexplode. The reference has
  * none of these built in — arbitrary Python inside mapfn (README.md:93-96);
  * here they're Catalyst built-ins that stay inside whole-stage codegen.
  *
  * Determinism: per-row arithmetic with the same expression shape is
  * bit-exact across engines; transcendentals (ln/exp/pow) are rounded to 6
  * decimals (never exact halves); sqrt is IEEE-correctly-rounded (exact).
  */
object Scalars {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_str_funcs" -> ((s, dir) =>
      Tables(s, dir, "part").select(
        col("p_partkey"),
        lower(col("p_name")).as("lo_name"),
        upper(col("p_brand")).as("up_brand"),
        length(col("p_name")).as("name_len"),
        substring(col("p_type"), 1, 5).as("type5"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        regexp_replace(col("p_name"), " ", "_").as("snake_name"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        trim(col("p_name")).as("trimmed"),
        size(split(col("p_name"), " ")).as("n_words"))),

    "q_date_funcs" -> ((s, dir) =>
      Tables(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        date_trunc("month", col("o_orderdate")).cast("timestamp_ntz").as("month_start"),
        last_day(col("o_orderdate")).cast("timestamp_ntz").as("month_end"),
        date_add(to_date(col("o_orderdate")), 30).cast("timestamp_ntz").as("plus30"),
        datediff(lit("2000-01-01").cast(DateType), to_date(col("o_orderdate"))).as("days_to_y2k"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))),

    "q_math_funcs" -> ((s, dir) =>
      Tables(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_extendedprice") - lit(1000.0)).as("abs_diff"),
        ceil(col("l_extendedprice")).as("ceil_price"),
        floor(col("l_extendedprice")).as("floor_price"),
        sqrt(col("l_quantity")).as("sqrt_qty"),
        round(log(lit(1.0) + col("l_extendedprice")), 6).as("ln_price"),
        round(exp(col("l_discount")), 6).as("exp_disc"),
        round(pow(lit(1.0) + col("l_discount"), 3), 6).as("pow_disc"),
        signum(col("l_extendedprice") - lit(1000.0)).as("sign_diff"),
        (col("l_orderkey") % 7).as("mod7"))),

    // Scalar-only top-level schema (the driver's comparator can't hash
    // array cells): slice/array_max/aggregate results are reduced to
    // scalars instead of emitting the arrays themselves.
    "q_array_funcs" -> ((s, dir) =>
      Tables(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).cast(DoubleType).as("e1"),
        element_at(col("embedding"), -1).cast(DoubleType).as("e_last"),
        aggregate(
          transform(slice(col("embedding"), 1, 4), x => x.cast(DoubleType)),
          lit(0.0),
          (acc, x) => acc + x).as("head4_sum"),
        array_max(col("embedding")).cast(DoubleType).as("vmax"),
        array_min(col("embedding")).cast(DoubleType).as("vmin"),
        round(sqrt(aggregate(
          transform(col("embedding"), x => x.cast(DoubleType) * x),
          lit(0.0),
          (acc, x) => acc + x)), 6).as("norm2"))),

    "q_json_funcs" -> ((s, dir) =>
      Tables(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k_str"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k_parsed"))),

    "q_map_funcs" -> ((s, dir) =>
      Tables(s, dir, "events").select(
        col("event_id"),
        map(lit("k"), get_json_object(col("props"), "$.k").cast(IntegerType),
            lit("uid"), col("user_id").cast(IntegerType)).as("m"))
        .select(
          col("event_id"),
          size(col("m")).as("n_entries"),
          // scalar-only top level: keys/values joined to CSV strings
          array_join(map_keys(col("m")), ",").as("ks_csv"),
          array_join(transform(map_values(col("m")), _.cast(StringType)), ",")
            .as("vs_csv"),
          element_at(col("m"), "k").as("k_val"),
          element_at(col("m"), "uid").as("uid_val"))),

    // Error-tolerant parsing — the dirty-data surface a real ingest needs:
    // try_cast yields NULL instead of failing the job, try_divide yields
    // NULL on division by zero. Zero denominators are constructed with
    // nullif-free arithmetic (l_linenumber - 1 is 0 for the first line).
    "q_try_funcs" -> ((s, dir) =>
      Tables(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        // native exception-free parse: l_returnflag never parses, and
        // Spark's try_cast pays a caught NumberFormatException per bad row
        // (~4s of the query at sf0.1); try_parse_int is the codegen path.
        // try_cast stays on the always-valid column as API coverage.
        expr("try_parse_int(l_returnflag)").as("flag_as_int"),
        expr("try_cast(cast(l_linenumber AS STRING) AS INT)").as("line_as_int"),
        try_divide(col("l_extendedprice"), (col("l_linenumber") - 1).cast(DoubleType))
          .as("price_per"))),

    // Numeric histogram: fixed-width value buckets + counts — the
    // distribution profile every curation report starts with. One
    // partial-aggregated shuffle on the bucket id.
    "q_histogram" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .select(floor(col("o_totalprice") / lit(25000.0)).cast(IntegerType).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .withColumn("lo", col("bucket") * lit(25000.0))
        .withColumn("hi", (col("bucket") + 1) * lit(25000.0))),

    "q_explode_pos" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "token")),

    // Feature standardization (z-score per event_type): group moments
    // from EXACT decimal sums (so the two-pass mean/variance is
    // reproducible run-to-run — Welford/naive double accumulation is
    // not), broadcast the tiny stats table back onto the stream.
    // Variance via the sum-of-squares identity, sample (n-1) flavor;
    // every double op below is IEEE-identical in DuckDB, so the oracle
    // matches bit-exactly.
    "q_zscore" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val stats = e.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("s1"),
        sum((col("value") * col("value")).cast(DecimalType(18, 6)))
          .cast(DoubleType).as("s2"))
      e.join(broadcast(stats), "event_type")
        .filter(col("n") > 1)
        .select(col("event_id"), col("event_type"), col("value"),
          ((col("value") - col("s1") / col("n")) /
            sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)))
            .as("z"))
    })
  )

  val oracles: Map[String, String] = Map(
    // identical formula text => identical IEEE double ops => hash match
    "q_zscore" ->
      """WITH stats AS (
           SELECT event_type, count(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS s2
           FROM events GROUP BY event_type)
         SELECT event_id, e.event_type, value,
           (value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS z
         FROM events e JOIN stats USING (event_type)
         WHERE n > 1""",

    "q_str_funcs" ->
      """SELECT p_partkey,
         lower(p_name) AS lo_name,
         upper(p_brand) AS up_brand,
         CAST(length(p_name) AS INTEGER) AS name_len,
         substring(p_type, 1, 5) AS type5,
         p_brand || ':' || p_type AS brand_type,
         regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
         replace(p_name, ' ', '_') AS snake_name,
         lpad(p_brand, 12, '*') AS brand_pad,
         trim(p_name) AS trimmed,
         CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_words
         FROM part""",

    "q_date_funcs" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS INTEGER) AS y,
         CAST(quarter(o_orderdate) AS INTEGER) AS q,
         CAST(month(o_orderdate) AS INTEGER) AS m,
         CAST(day(o_orderdate) AS INTEGER) AS d,
         date_trunc('month', o_orderdate) AS month_start,
         CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
         CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS plus30,
         CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INTEGER) AS days_to_y2k,
         CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
         FROM orders""",

    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
         abs(l_extendedprice - 1000.0) AS abs_diff,
         CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
         CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
         sqrt(l_quantity) AS sqrt_qty,
         round(ln(1.0 + l_extendedprice), 6) AS ln_price,
         round(exp(l_discount), 6) AS exp_disc,
         round(pow(1.0 + l_discount, 3), 6) AS pow_disc,
         CAST(sign(l_extendedprice - 1000.0) AS DOUBLE) AS sign_diff,
         l_orderkey % 7 AS mod7
         FROM lineitem""",

    "q_array_funcs" ->
      """SELECT vec_id,
         CAST(len(embedding) AS INTEGER) AS dim,
         CAST(embedding[1] AS DOUBLE) AS e1,
         CAST(embedding[len(embedding)] AS DOUBLE) AS e_last,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(embedding[1:4], x -> CAST(x AS DOUBLE))),
           (acc, x) -> acc + x) AS head4_sum,
         CAST(list_max(embedding) AS DOUBLE) AS vmax,
         CAST(list_min(embedding) AS DOUBLE) AS vmin,
         round(sqrt(list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(embedding, x -> CAST(x AS DOUBLE) * x)),
           (acc, x) -> acc + x)), 6) AS norm2
         FROM embeddings""",

    "q_json_funcs" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_str,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_parsed
         FROM events""",

    "q_map_funcs" ->
      """WITH m AS (
           SELECT event_id,
             map {'k': CAST(json_extract_string(props, '$.k') AS INTEGER),
                  'uid': CAST(user_id AS INTEGER)} AS m
           FROM events)
         SELECT event_id,
           CAST(cardinality(m) AS INTEGER) AS n_entries,
           array_to_string(map_keys(m), ',') AS ks_csv,
           array_to_string(list_transform(map_values(m), x -> CAST(x AS VARCHAR)), ',')
             AS vs_csv,
           map_extract(m, 'k')[1] AS k_val,
           map_extract(m, 'uid')[1] AS uid_val
         FROM m""",

    "q_try_funcs" ->
      """SELECT l_orderkey, l_linenumber,
         TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int,
         TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INTEGER) AS line_as_int,
         CASE WHEN l_linenumber - 1 = 0 THEN NULL
              ELSE l_extendedprice / (l_linenumber - 1) END AS price_per
         FROM lineitem""",

    "q_histogram" ->
      """SELECT bucket, count(*) AS n,
         bucket * 25000.0 AS lo, (bucket + 1) * 25000.0 AS hi
         FROM (SELECT CAST(floor(o_totalprice / 25000.0) AS INTEGER) AS bucket
               FROM orders)
         GROUP BY bucket""",

    "q_explode_pos" ->
      """SELECT doc_id, u.pos AS pos, u.tok AS token FROM (
           SELECT doc_id,
             unnest(list_transform(range(1, len(w) + 1),
               i -> {'pos': CAST(i - 1 AS INTEGER), 'tok': w[i]})) AS u
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents WHERE doc_id < 20))"""
  )
}
