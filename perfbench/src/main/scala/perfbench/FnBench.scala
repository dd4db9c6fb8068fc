package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** ns per row of each expression `graft.GraftExtensions` injects,
  * evaluated over the workload's corpus (token arrays) or embeddings,
  * minus a pass that only scans the same input column. The inputs are
  * replicated to `minRows` and cached first, so the scan is cheap and
  * equal in both passes.
  */
object FnBench {
  /** (function, input frame, input column, expression over it) */
  val exprs: Seq[(String, String, String, String)] = Seq(
    ("cosine_sim", "emb", "v", "cosine_sim(v, v)"),
    ("poly_hash", "doc", "w", "poly_hash(w)"),
    ("ngram_hashes", "doc", "w", "ngram_hashes(w)"),
    ("minhash64", "doc", "h", "minhash64(h)"),
    ("hyperplane_bits", "emb", "v", "hyperplane_bits(v)"),
    ("simhash64_fp", "doc", "w", "simhash64_fp(w)"),
    ("span_md5s", "doc", "w", "span_md5s(w)"),
    ("bigram_md5_buckets", "doc", "w", "bigram_md5_buckets(w)"),
    ("span_md5_ids", "doc", "w", "span_md5_ids(w)"),
    ("chunk_md5_ids64", "doc", "w", "chunk_md5_ids64(w)"))

  private def replicated(df: DataFrame, minRows: Long, parts: Int): (DataFrame, Long) = {
    val n = math.max(1L, df.count())
    val k = math.max(1L, (minRows + n - 1) / n)
    val out = df.crossJoin(df.sparkSession.range(k).select(col("id").as("rep")))
      .drop("rep").repartition(parts).cache()
    (out, out.count())
  }

  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  def run(spark: SparkSession, data: String, minRows: Long, reps: Int)
      : Map[String, Double] = {
    val parts = spark.sparkContext.defaultParallelism
    val (doc, docRows) = replicated(
      Tables(spark, data, "documents").select(split(lower(col("text")), " ").as("w"))
        .selectExpr("w", "ngram_hashes(w) AS h"), minRows, parts)
    val (emb, embRows) = replicated(
      Tables(spark, data, "embeddings").select(col("embedding").as("v")), minRows, parts)
    val frames = Map("doc" -> (doc, docRows), "emb" -> (emb, embRows))
    try exprs.map { case (name, input, column, e) =>
      val (df, rows) = frames(input)
      val times = (1 to reps).map { _ =>
        val scan = noop(df.select(col(column)))
        noop(df.selectExpr(e)) - scan
      }
      name -> math.max(0.0, Stats.median(times)) * 1e9 / rows
    }.toMap
    finally { doc.unpersist(); emb.unpersist() }
  }
}
