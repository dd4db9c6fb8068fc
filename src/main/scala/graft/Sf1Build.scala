package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1-scale fixture builder for the ORACLE spot-sweep (one-time tool;
  * round-11 verdict task 7): replicates the sf0.1 fixtures 10× —
  * documents/embeddings AND the fact tables (lineitem/orders/events),
  * dims pass through — into /tmp/graft_sf1_v1, so the scale-sensitive
  * query tail can be DuckDB-oracled at 10× the usual verify scale
  * (upgrading "measured at 64× synthetic growth" to "oracled at 10×").
  * Run: `sbt "runMain graft.Sf1Build"`, then
  * `sbt "runMain graft.Verify /tmp/graft_sf1_v1 <out> <subset>"` +
  * `tools/check_oracle.py /tmp/graft_sf1_v1 <out>`.
  */
object Sf1Build {

  val root = s"${System.getProperty("java.io.tmpdir")}/graft_sf1_v1"

  /** The one fixture replicator (also [[ScaleSmoke]]'s): copies the
    * fixtures at `src` into `root` — documents and embeddings
    * `docFactor`×, lineitem/orders/events `factFactor`×, the dims
    * (customer/nation/region/supplier/part) once. Copy `i` shifts every
    * id by `i`·1e7 (events' user_id by `i`·1e5), so copies are disjoint;
    * documents gain one `sftag<i>` token (n_chars follows, keeping the
    * `n_chars == length(text)` invariant q_expectations checks) and
    * embeddings a `i`·1e-4 shift, so replicas are perturbed near-dups.
    * o_custkey is NOT shifted: the customer dim is not replicated, so
    * shifting would dangle the extra fact copies and customer joins would
    * silently measure 1× data; replicated orders share customers instead.
    * events.ts goes through [[Tables]] (ns → µs) and is written as
    * TIMESTAMP_MICROS (the conf is restored afterwards), so Spark and
    * DuckDB read identical µs instants — the raw fixture's
    * TIMESTAMP(NANOS) needs the Spark-side legacy long read that DuckDB
    * does not share. A `_built` marker makes it one-time: returns false
    * when `root` was already built.
    */
  def replicate(spark: SparkSession, src: String, root: String,
      docFactor: Int, factFactor: Int): Boolean = {
    val marker = new java.io.File(s"$root/_built")
    if (marker.exists()) return false
    def copies(table: String, n: Int)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val df = Tables(spark, src, table)
      (0 until n).map(copy(df, _)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$root/$table.parquet")
    }
    val tsType = "spark.sql.parquet.outputTimestampType"
    val prevTsType = spark.conf.getOption(tsType)
    spark.conf.set(tsType, "TIMESTAMP_MICROS")
    try {
      copies("documents", docFactor) { (d, i) =>
        d.select(
          (col("doc_id") + lit(10000000L * i)).as("doc_id"),
          concat(col("text"), lit(s" sftag$i")).as("text"),
          col("lang"), col("source"),
          (col("n_chars") + lit(s" sftag$i".length.toLong)).as("n_chars"))
      }
      copies("embeddings", docFactor) { (e, i) =>
        e.select(
          (col("vec_id") + lit(10000000L * i)).as("vec_id"),
          transform(col("embedding"), x => (x + lit(i * 1e-4f)).cast("float"))
            .as("embedding"),
          col("label"))
      }
      copies("lineitem", factFactor) { (li, i) =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(10000000L * i))
      }
      copies("orders", factFactor) { (o, i) =>
        o.withColumn("o_orderkey", col("o_orderkey") + lit(10000000L * i))
      }
      copies("events", factFactor) { (ev, i) =>
        ev.withColumn("event_id", col("event_id") + lit(10000000L * i))
          .withColumn("user_id", col("user_id") + lit(100000L * i))
      }
      Seq("customer", "nation", "region", "supplier", "part")
        .foreach(copies(_, 1)((t, _) => t))
    } finally prevTsType match {
      case Some(v) => spark.conf.set(tsType, v)
      case None    => spark.conf.unset(tsType)
    }
    require(marker.createNewFile(), s"could not write $root/_built")
    true
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-sf1-build", 32)
    try {
      if (replicate(spark, "/root/testdata/sf0.1", root, 10, 10))
        println(s"[sf1] built $root (10x docs/emb/facts, dims passthrough)")
      else println(s"[sf1] already built at $root")
    } finally spark.stop()
  }
}
