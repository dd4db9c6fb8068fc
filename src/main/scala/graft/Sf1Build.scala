package graft

import org.apache.spark.sql.functions._

/** sf1-scale fixture builder for the ORACLE spot-sweep (one-time tool;
  * round-11 verdict task 7): replicates the sf0.1 fixtures 10× —
  * documents/embeddings AND the fact tables (lineitem/orders/events),
  * dims pass through — into /tmp/graft_sf1_v1, so the scale-sensitive
  * query tail can be DuckDB-oracled at 10× the usual verify scale
  * (upgrading "measured at 64× synthetic growth" to "oracled at 10×").
  * Unlike ScaleSmoke's trend corpus this dir is built FOR the oracle
  * comparison, so events.ts is normalized through [[Tables]] and
  * re-written as TIMESTAMP_MICROS — both engines then read identical
  * µs instants (the raw fixture's TIMESTAMP(NANOS) needs the Spark-side
  * legacy long read that DuckDB does not share).
  * Run: `sbt "runMain graft.Sf1Build"`, then
  * `sbt "runMain graft.Verify /tmp/graft_sf1_v1 <out> <subset>"` +
  * `tools/check_oracle.py /tmp/graft_sf1_v1 <out>`.
  */
object Sf1Build {

  val root = s"${System.getProperty("java.io.tmpdir")}/graft_sf1_v1"

  def main(args: Array[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val factor = 10
    val spark = GraftSession.local("graft-sf1-build", 32)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val marker = new java.io.File(s"$root/_built")
    if (marker.exists()) { println(s"[sf1] already built at $root"); spark.stop(); return }
    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until factor).map { i =>
      docs.select(
        (col("doc_id") + lit(10000000L * i)).as("doc_id"),
        concat(col("text"), lit(s" sftag$i")).as("text"),
        col("lang"), col("source"),
        // keep the n_chars == length(text) invariant the fixtures carry
        // (q_expectations checks it) — the suffix lengthens every text
        (col("n_chars") + lit(s" sftag$i".length.toLong)).as("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$root/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until factor).map { i =>
      emb.select(
        (col("vec_id") + lit(10000000L * i)).as("vec_id"),
        transform(col("embedding"), x => (x + lit(i * 1e-4f)).cast("float"))
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$root/embeddings.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until factor).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(10000000L * i))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$root/lineitem.parquet")
    // o_custkey unshifted: the customer dim passes through, replicated
    // orders share customers (the ScaleSmoke convention)
    val o = spark.read.parquet(s"$src/orders.parquet")
    (0 until factor).map { i =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(10000000L * i))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$root/orders.parquet")
    // events through Tables (ns -> µs normalization), then µs on disk
    val ev = Tables(spark, src, "events")
    (0 until factor).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(10000000L * i))
        .withColumn("user_id", col("user_id") + lit(100000L * i))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$root/events.parquet")
    Seq("customer", "nation", "region", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$root/$t.parquet")
    }
    require(marker.createNewFile(), s"could not write $root/_built")
    println(s"[sf1] built $root (10x docs/emb/facts, dims passthrough)")
    spark.stop()
  }
}
