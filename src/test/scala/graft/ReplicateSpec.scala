package graft

import org.apache.spark.sql.functions.{col, countDistinct, length}
import org.apache.spark.sql.types.TimestampType

/** [[Sf1Build.replicate]], the fixture replicator behind Sf1Build and
  * ScaleSmoke: copies scale the corpus and fact tables with disjoint ids,
  * pass the dims through once, keep the `n_chars == length(text)`
  * invariant and write events.ts as a real timestamp.
  */
class ReplicateSpec extends SparkSpec {

  test("replicate at factor 2: corpus and facts 2x with disjoint ids, dims 1x") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_replicate").toFile
    try check(s"$tmp/x2")
    finally operators.Sources.deleteRec(tmp)
  }

  private def check(root: String): Unit = {
    val tsType = "spark.sql.parquet.outputTimestampType"
    val tsBefore = spark.conf.getOption(tsType)
    assert(Sf1Build.replicate(spark, sf0001, root, 2, 2))
    assert(!Sf1Build.replicate(spark, sf0001, root, 2, 2), "second call must find the marker")
    assert(spark.conf.getOption(tsType) == tsBefore, "timestamp write type leaked")

    def read(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet")
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id", "lineitem" -> "l_orderkey",
        "orders" -> "o_orderkey", "events" -> "event_id").foreach { case (t, id) =>
      val (src, out) = (read(sf0001, t), read(root, t))
      assert(out.count() == 2 * src.count(), t)
      val ids = (df: org.apache.spark.sql.DataFrame) => df.agg(countDistinct(col(id))).head().getLong(0)
      // each copy carries the source's distinct ids, so 2x distinct ids
      // means the two copies share none
      assert(ids(out) == 2 * ids(src), s"$t.$id copies overlap")
    }
    Seq("customer", "nation", "region", "supplier", "part").foreach { t =>
      assert(read(root, t).count() == read(sf0001, t).count(), t)
    }
    assert(read(root, "documents").filter(col("n_chars") =!= length(col("text"))).count() == 0)
    assert(read(root, "events").schema("ts").dataType == TimestampType)
  }
}
