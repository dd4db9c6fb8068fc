package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.{SparkEntry, Tables}

/** Row count plus an order-insensitive digest of a query's output. */
final case class Digest(rows: Long, hash: String)

/** One output check: `ok` false means the operation counts as failed. */
final case class Verdict(op: String, ok: Boolean, detail: String)

/** The untimed output check that follows the timed passes. */
object Check {

  /** Sum and xor of a 64-bit hash of every row over the columns in name
    * order; floating columns are rounded to 6 decimals first, so the
    * digest is independent of row order and of summation order. */
  def digest(df: DataFrame): Digest = {
    val cols = df.columns.sorted.map { c =>
      df.schema(c).dataType match {
        case DoubleType | FloatType => round(col(s"`$c`").cast(DoubleType), 6)
        case _ => col(s"`$c`")
      }
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    Digest(r.getLong(0), s"${Option(r.get(1)).getOrElse(0)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}")
  }

  private def query(spark: SparkSession, data: String, op: String): DataFrame =
    SparkEntry.queries(op)(spark, data)

  /** Independent Spark-side oracles for the MapReduce core. */
  private def mrOracles(spark: SparkSession, data: String): Map[String, DataFrame] = {
    val words = Tables(spark, data, "documents")
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
    val wordcount = query(spark, data, "q_wordcount")
    val cust = Tables(spark, data, "customer")
    val ords = Tables(spark, data, "orders")
    Map(
      "q_mr_wordcount" -> wordcount,
      "q_mr_chained" -> wordcount.groupBy("cnt").agg(count(lit(1)).as("n_words")),
      "q_mr_inverted" -> words.groupBy("word")
        .agg(array_join(array_sort(collect_set(col("doc_id"))), "-").as("postings")),
      "q_mr_join" -> cust.join(ords, col("c_custkey") === col("o_custkey"))
        .select("c_custkey", "c_name", "o_orderkey"))
  }

  /** Runs every operation once more, digests its output and judges it:
    *  - against the golden digest when the run uses the golden seed;
    *  - against a Spark-side oracle (MapReduce queries, every seed);
    *  - against seed-independent laws: non-empty output, no PII left in
    *    redacted text, recall of the generator's planted near-duplicate
    *    pairs in q_dedup_minhash.
    * Returns the verdicts, the digests and the planted-pair recall.
    */
  def run(spark: SparkSession, data: String, w: Workload, golden: Option[Map[String, Digest]],
      planted: Seq[(Long, Long)], minRecall: Double)
      : (Seq[Verdict], Map[String, Digest], Option[Double]) = {
    val oracles = if (w == Workloads.mrCorpus) mrOracles(spark, data) else Map.empty[String, DataFrame]
    var recall: Option[Double] = None
    val results = (w.ops ++ w.doors).map { op =>
      try {
        val df = query(spark, data, op)
        val d = digest(df)
        System.err.println(s"[perfbench] digest $op: ${d.rows} rows ${d.hash}")
        val problems = Seq.newBuilder[String]
        if (d.rows == 0) problems += "empty output"
        golden.flatMap(_.get(op)).foreach { g =>
          if (g != d) problems += s"golden ${g.rows} rows ${g.hash}, got ${d.rows} rows ${d.hash}"
        }
        oracles.get(op).foreach { o =>
          val od = digest(o)
          if (od != d) problems += s"oracle ${od.rows} rows ${od.hash}, got ${d.rows} rows ${d.hash}"
        }
        if (df.columns.contains("n_residual")) {
          val left = df.agg(sum(col("n_residual"))).head().getLong(0)
          if (left != 0) problems += s"$left PII matches left after redaction"
        }
        if (op == "q_dedup_minhash" && planted.nonEmpty) {
          val found = df.select(col("doc_id_a"), col("doc_id_b")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val r = planted.count(found.contains).toDouble / planted.size
          recall = Some(r)
          if (r < minRecall) problems += f"planted-pair recall $r%.3f < $minRecall"
        }
        spark.catalog.clearCache()
        val p = problems.result()
        (Verdict(op, p.isEmpty, if (p.isEmpty) "ok" else p.mkString("; ")), Some(op -> d))
      } catch {
        case e: Exception =>
          spark.catalog.clearCache()
          (Verdict(op, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}"), None)
      }
    }
    (results.map(_._1), results.flatMap(_._2).toMap, recall)
  }
}
