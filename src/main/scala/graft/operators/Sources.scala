package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, date_trunc, expr, lit, max, regexp_replace, sum}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables

/** Driver-visible source-format coverage (SURVEY.md §2.2 "Scans"): the
  * reference accepts any dict-like datasource (mincemeat.py:306), so a
  * user's first act against a real lake is reading CSV/JSON. Each query
  * round-trips a fixture table through the format under test — write from
  * parquet, read back through the CSV/JSON reader with an explicit schema —
  * and is oracled against DuckDB's view of the original parquet, proving
  * the full parse path (quoting, escaping, numeric round-trip) value-exact.
  *
  * Scale note: both readers are splittable multi-file scans (one task per
  * file split), same as production ingest; the fixture write is just the
  * test harness side of the round-trip.
  */
object Sources {

  /** Shared tmp root for fixture side-files written by round-trip / bucketed
    * queries (also used by Joins.q_join_bucketed).
    */
  def fixturePath(dir: String, tag: String): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_fixtures/$safe/$tag"
  }

  /** Cross-PROCESS-safe one-time store build: build into a unique tmp
    * sibling, then atomically rename into place. The builders'
    * `synchronized` blocks only serialize threads within one JVM — two
    * JVMs sharing /tmp (a local Verify iteration racing Bench, or the
    * driver's parallel rounds) could both pass the marker check and
    * write the same directory, or one could read a store that
    * mode("overwrite") had half-deleted. A directory rename on one
    * filesystem is atomic: readers only ever see a complete store, and
    * the loser of a build race discards its tmp dir and reads the
    * winner's. Store content is deterministic, so which build wins is
    * irrelevant.
    */
  def ensureStore(dir: String, tag: String)(build: String => Unit): String =
    synchronized {
      val path = fixturePath(dir, tag)
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        val tmp =
          s"$path.build_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val t = new java.io.File(tmp)
        // a throwing build leaks no tmp dir; a multi-frame build gets its root marker here
        try {
          build(tmp)
          val done = new java.io.File(t, "_SUCCESS")
          require(done.exists() || done.createNewFile(), s"ensureStore($tag): no marker $done")
        } catch { case e: Throwable => deleteRec(t); throw e }
        if (!t.renameTo(new java.io.File(path))) {
          // rename failure is only benign when we lost a build race and the
          // winner's complete store is already in place — verify, else fail
          // loudly here instead of as a confusing parquet-read error later
          // (e.g. cross-filesystem tmp, permissions).
          deleteRec(t)
          if (!new java.io.File(s"$path/_SUCCESS").exists())
            sys.error(s"ensureStore($tag): rename $tmp -> $path failed and " +
              "no complete store exists at the target (not a lost build race)")
        }
      }
      path
    }

  /** The common store: one frame written once per sf dir under `tag`
    * (through [[ensureStore]]) and read back from parquet. */
  def parquetStore(s: SparkSession, dir: String, tag: String)(
      frame: => DataFrame): DataFrame =
    s.read.parquet(ensureStore(dir, tag)(tmp => frame.write.mode("overwrite").parquet(tmp)))

  private[graft] def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }

  /** Idempotent partitioned-layout ingest for [[q_scan_partitioned]]:
    * events written `partitionBy(event_type)` once per sf dir (marker
    * file), reused across sessions — at 100 TB the partitioned layout is
    * a one-time ingest decision amortized over every pruned query.
    */
  def ensurePartitionedEvents(s: SparkSession, dir: String): Unit = {
    // versioned tag (like the minhash/IVF stores): bump on any ingest
    // change so machines with an older /tmp copy rebuild instead of
    // oracle-checking stale data; ensureStore's tmp-dir + atomic rename
    // guards half-written layouts across processes
    ensureStore(dir, "events_parted_v1") { tmp =>
      Tables(s, dir, "events")
        .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    }
    ()
  }

  /** Idempotent Z-order ingest for [[q_scan_zorder]]: lineitem laid out by
    * the Morton code of (l_partkey, l_suppkey), each scaled into 10 bits
    * by its max key so the interleave is resolution-balanced at any sf.
    * Z-ordering bounds BOTH coordinates of every output file's bounding
    * box (a 1D sort bounds only its own column), so parquet min/max stats
    * prune files for 2-dimensional box predicates — the multi-column
    * complement of q_scan_clustered, and the layout trick lakehouse
    * OPTIMIZE ZORDER BY applies to petabyte fact tables.
    */
  def ensureZorderedLineitem(s: SparkSession, dir: String): String =
    ensureStore(dir, "lineitem_zorder_v1") { tmp =>
      {
        val li = Tables(s, dir, "lineitem")
        val mx = li.agg(max(col("l_partkey")).as("maxpk"),
          max(col("l_suppkey")).as("maxsk"))
        li.crossJoin(broadcast(mx))
          .withColumn("pk10", expr("(l_partkey * 1024) div (maxpk + 1)"))
          .withColumn("sk10", expr("(l_suppkey * 1024) div (maxsk + 1)"))
          .withColumn("zval", expr(
            """aggregate(sequence(0, 9), 0L, (acc, i) -> acc
               + shiftleft(shiftright(pk10, i) % 2, 2*i)
               + shiftleft(shiftright(sk10, i) % 2, 2*i + 1))"""))
          .repartitionByRange(16, col("zval"))
          .sortWithinPartitions("zval", "l_orderkey")
          .drop("maxpk", "maxsk", "pk10", "sk10", "zval")
          .write.mode("overwrite").parquet(tmp)
      }
    }

  /** Idempotent range-clustered ingest for [[q_scan_clustered]]: lineitem
    * laid out `repartitionByRange(l_shipdate) + sortWithinPartitions`, so
    * every output file covers a disjoint shipdate range (pinned in
    * SourcesSpec). The lakehouse "cluster by" idiom: parquet min/max
    * stats then prune whole files/row-groups for any date-range
    * predicate — the complement of q_scan_partitioned's directory
    * pruning, without the small-partition explosion a high-cardinality
    * partitionBy would cause.
    */
  def ensureClusteredLineitem(s: SparkSession, dir: String): String =
    ensureStore(dir, "lineitem_clustered_v1") { tmp =>
      Tables(s, dir, "lineitem")
        .repartitionByRange(8, col("l_shipdate"), col("l_orderkey"))
        .sortWithinPartitions("l_shipdate", "l_orderkey")
        .write.mode("overwrite").parquet(tmp)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Range-clustered scan: a shipdate-range query against the clustered
    // layout. The filter reaches the parquet reader (PushedFilters), and
    // because the layout sorted by l_shipdate, file- and row-group-level
    // min/max stats skip everything outside 1995 — on a 100-TB fact
    // table this reads ~1/7 of the files instead of all of them.
    // Value-exact against the unclustered oracle.
    "q_scan_clustered" -> ((s, dir) => {
      val out = ensureClusteredLineitem(s, dir)
      s.read.parquet(out)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 6)))
            .cast(DoubleType).as("sum_qty"))
    }),

    // Z-order clustered scan: a 2-dimensional (partkey, suppkey) box
    // query against the Morton-ordered layout. Both predicates reach the
    // parquet reader, and because Z-ordering keeps every file's bounding
    // box small in BOTH dimensions, min/max stats skip most files — a 1D
    // sort could prune on only one of the two columns (the other would
    // span the full domain in every file). Value-exact against the
    // unclustered oracle; overlap fraction pinned in SourcesSpec.
    "q_scan_zorder" -> ((s, dir) => {
      val out = ensureZorderedLineitem(s, dir)
      s.read.parquet(out)
        .filter(col("l_partkey").between(1, 97) &&
          col("l_suppkey").between(1, 4))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 6)))
            .cast(DoubleType).as("sum_qty"))
    }),

    // Partition-pruned scan — the layout idiom that matters most at
    // 100 TB: a filter on the partition column eliminates entire
    // directories at PLANNING time (PartitionFilters in the scan node,
    // pinned in PlanShapeSpec), so the 4/5 of the data in other
    // partitions is never opened, let alone read. Value-exact against
    // the unpartitioned oracle.
    "q_scan_partitioned" -> ((s, dir) => {
      ensurePartitionedEvents(s, dir)
      s.read.parquet(fixturePath(dir, "events_parted_v1"))
        .filter(col("event_type") === "purchase")
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_ts"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
    }),

    // Dynamic partition pruning — the star-join twin of
    // q_scan_partitioned: the selective predicate lives on the DIM side,
    // so no static partition filter exists; Catalyst plants a
    // dynamicpruning subquery on the fact scan (reusing the dim's
    // broadcast) and entire event_type directories are skipped at
    // RUNTIME. At 100 TB this is the difference between scanning 2/4 and
    // 4/4 of a partitioned fact table whenever the filter arrives via a
    // dimension. Plan pinned in PlanShapeSpec; value-exact against the
    // unpartitioned oracle.
    "q_join_dpp" -> ((s, dir) => {
      ensurePartitionedEvents(s, dir)
      val dimPath = ensureStore(dir, "event_dim_v1") { tmp =>
        import s.implicits._
        Seq(("purchase", 5.0, 1), ("click", 1.0, 0),
            ("signup", 3.0, 1), ("error", 0.5, 0))
          .toDF("event_type", "weight", "is_core")
          .write.mode("overwrite").parquet(tmp)
      }
      val fact = s.read.parquet(fixturePath(dir, "events_parted_v1"))
      val dim = s.read.parquet(dimPath).filter(col("is_core") === 1)
      fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum((col("value") * col("weight")).cast(DecimalType(18, 6)))
            .cast(DoubleType).as("weighted_sum"))
    }),

    "q_scan_csv" -> ((s, dir) => {
      val n = Tables(s, dir, "nation")
      val out = fixturePath(dir, "nation_csv")
      n.write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema(n.schema).option("header", "true").csv(out)
    }),

    // Schema evolution on read: two ingest batches where the newer one
    // added a column, read together with mergeSchema — the lake reality
    // that a 100-TB table's files NEVER all share one schema. Rows from
    // the old batch null-fill the new column; the aggregation proves both
    // the union and the null-fill value-exact.
    "q_scan_merge_schema" -> ((s, dir) => {
      val out = fixturePath(dir, "orders_evolving")
      val o = Tables(s, dir, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .write.mode("overwrite").parquet(s"$out/b1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").parquet(s"$out/b2")
      s.read.option("mergeSchema", "true").parquet(s"$out/b1", s"$out/b2")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count(col("o_totalprice")).as("n_with_price"),
          sum(col("o_totalprice").cast(DecimalType(18, 6)))
            .cast(DoubleType).as("price_sum"))
    }),

    "q_scan_json" -> ((s, dir) => {
      val sup = Tables(s, dir, "supplier")
      val out = fixturePath(dir, "supplier_json")
      sup.write.mode("overwrite").json(out)
      // explicit schema: JSON inference would widen int -> bigint; doubles
      // round-trip exactly via shortest-repr serialization
      s.read.schema(sup.schema).json(out)
    }),

    // ORC: the other major columnar lake format (native Spark source, with
    // the same pushdown/pruning machinery as parquet).
    "q_scan_orc" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val out = fixturePath(dir, "customer_orc")
      c.write.mode("overwrite").orc(out)
      s.read.schema(c.schema).orc(out)
    }),

    // Line-oriented text: the reference's primary ingest shape (a dict of
    // file contents, README.md:76). Order is not preserved by the write —
    // the driver's order-insensitive compare is exactly right for it.
    // Newlines are squashed BEFORE the write (the text sink does no
    // escaping, so an embedded \n would split one document into two rows
    // while the oracle still counts one).
    "q_scan_text" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(regexp_replace(col("text"), "[\\r\\n]", " ").as("text"))
      val out = fixturePath(dir, "documents_text")
      d.write.mode("overwrite").text(out)
      s.read.text(out).select(col("value").as("text"))
    }),

    // Error-tolerant ingest: a JSONL batch where every 7th record is
    // deterministically truncated mid-value (real crawls always carry
    // malformed lines). PERMISSIVE parsing keeps the pipeline running —
    // good rows parse, bad rows land whole in _corrupt_record for
    // quarantine — instead of failing the 100-TB job on line one
    // (FAILFAST) or silently losing data (DROPMALFORMED). The corruption
    // rule is deterministic, so the oracle derives the expected
    // good/bad/checksum split from the clean table.
    "q_scan_corrupt" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{concat_ws, struct, to_json, when}
      import org.apache.spark.sql.types._
      val out = fixturePath(dir, "nation_jsonl_corrupt")
      Tables(s, dir, "nation")
        .select(
          when(col("n_nationkey") % 7 === 0,
            concat_ws("", lit("{\"n_nationkey\":"), col("n_nationkey"),
              lit(",\"n_name\":"), col("n_name")))   // unquoted string: invalid
            .otherwise(to_json(struct(col("n_nationkey"), col("n_name"))))
            .as("value"))
        .coalesce(1).write.mode("overwrite").text(out)
      val schema = StructType(Seq(
        StructField("n_nationkey", LongType),
        StructField("n_name", StringType),
        StructField("_corrupt_record", StringType)))
      s.read.schema(schema).json(out).agg(
        count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
        count(when(col("_corrupt_record").isNotNull, 1)).as("n_bad"),
        sum(when(col("_corrupt_record").isNull, col("n_nationkey")))
          .as("sum_good_keys"))
    }),

    // The SQL entry surface: every fixture table registered as a view and
    // a multi-table query submitted as SQL TEXT through spark.sql — the
    // "switch engines without rewriting queries" path a reference user
    // takes first. Same Catalyst plan as the DataFrame form (views are
    // lazy over the parquet scans; pushdown/broadcast still apply).
    "q_sql_api" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT n.n_name,
               COUNT(*) AS n_cust,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY n.n_name""")
    }),

    // Correlated LATERAL subquery (SQL:2008, the top-N-per-row idiom):
    // each customer's 2 priciest orders via a per-row ORDER BY..LIMIT
    // inner query. A naive engine executes the inner query once per
    // outer row (corpus x per-key sort); Catalyst decorrelates it into
    // ONE window/rank over orders joined back — the only scale-viable
    // plan, same shape as the hand-written q_topk_per_group. Pinned in
    // PlanShapeSpec: no nested-loop, no per-row re-execution.
    "q_lateral_topk" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice
                 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 LIMIT 2) t""")
    })
  )

  val oracles: Map[String, String] = Map(
    // derives the expected split from the clean table via the same
    // deterministic every-7th corruption rule
    "q_scan_corrupt" ->
      """SELECT count(*) FILTER (WHERE n_nationkey % 7 <> 0) AS n_good,
                count(*) FILTER (WHERE n_nationkey % 7 = 0) AS n_bad,
                CAST(SUM(n_nationkey) FILTER (WHERE n_nationkey % 7 <> 0) AS BIGINT)
                  AS sum_good_keys
         FROM nation""",
    "q_join_dpp" ->
      """SELECT events.event_type, count(*) AS n,
         CAST(SUM(CAST(value * CAST(w AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
           AS weighted_sum
         FROM events
         JOIN (VALUES ('purchase', 5.0, 1), ('click', 1.0, 0),
                      ('signup', 3.0, 1), ('error', 0.5, 0))
              AS dim(event_type, w, is_core)
           ON events.event_type = dim.event_type
         WHERE is_core = 1
         GROUP BY events.event_type""",

    "q_sql_api" ->
      """SELECT n_name, count(*) AS n_cust,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_mktsegment = 'BUILDING' GROUP BY n_name""",
    "q_lateral_topk" ->
      """SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice
                  FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey
                  LIMIT 2) t""",
    "q_scan_partitioned" ->
      """SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events WHERE event_type = 'purchase' GROUP BY 1""",
    "q_scan_zorder" ->
      """SELECT l_returnflag, count(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_partkey BETWEEN 1 AND 97 AND l_suppkey BETWEEN 1 AND 4
         GROUP BY l_returnflag""",
    "q_scan_clustered" ->
      """SELECT l_returnflag, count(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1996-01-01'
         GROUP BY l_returnflag""",
    "q_scan_csv" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q_scan_merge_schema" ->
      """SELECT o_orderstatus, count(*) AS n,
         count(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END) AS n_with_price,
         CAST(SUM(CASE WHEN o_orderkey % 2 = 1
           THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE) AS price_sum
         FROM orders GROUP BY o_orderstatus""",
    "q_scan_json" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    "q_scan_orc" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
    "q_scan_text" ->
      """SELECT regexp_replace(text, '[\r\n]', ' ', 'g') AS text FROM documents"""
  )

  /** Repartition `df` to full parallelism BEFORE a CPU-bound per-row
    * stage (regex battery, tokenize+explode, per-replica hashing), ONLY
    * when its file scan cannot parallelize on its own — the batch-query
    * twin of Streaming.spreadBatch (guide §2.5: partitioning must derive
    * from the input, not a constant). The gate reads the frame's OWN
    * input files: estimated scan tasks = Σ ceil(bytes / maxPartitionBytes)
    * (an UNDER-estimate for unsplittable single-row-group files, so it
    * errs toward spreading exactly the small-file layouts that need it);
    * a frame already scanning at ≥ cluster parallelism — any real
    * multi-file table — is returned untouched, so no at-scale corpus
    * ever pays a spurious full-table shuffle. Result-invariant:
    * repartition changes layout, never rows, and every caller's
    * downstream aggregation is order-independent.
    */
  def spreadScanForCpu(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val p = s.sparkContext.defaultParallelism
    val files =
      try df.inputFiles
      catch { case _: Exception => Array.empty[String] }
    if (files.isEmpty) return df // non-file-backed: leave alone
    val hconf = s.sessionState.newHadoopConf()
    val maxSplit = math.max(1L, s.sessionState.conf.filesMaxPartitionBytes)
    val estTasks =
      try files.iterator.map { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        val len = path.getFileSystem(hconf).getFileStatus(path).getLen
        math.max(1L, (len + maxSplit - 1) / maxSplit)
      }.sum
      catch { case _: Exception => Long.MaxValue } // unknown: don't spread
    if (estTasks < p) df.repartition(p) else df
  }
}
