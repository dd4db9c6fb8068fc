package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query-name filter for fast local
    // iteration (the driver always calls with exactly two args).
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, f) => (a, b, Some(f.split(",").toSet))
    }
    val spark = GraftSession.local("graft-verify",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    // int64 micros so DuckDB/pyarrow read the same instants back
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.keySet.filter(n => only.forall(_(n)))
    // q_line_dedup shuffles 64-bit md5-prefix segment ids where the
    // oracle sees strings: make the (astronomically unlikely) id
    // collision fail loudly here, not as a bare hash mismatch
    if (selected.contains("q_line_dedup"))
      operators.Text.assertLineDedupKeysInjective(spark, sfDir)
    // The semantic-dedup oracles assume the EXACT assignment path
    // (bit-identical to DuckDB); if a fixture ever grows past the
    // threshold Dedup.seedSearch would silently flip to approximate
    // IVF — fail loudly at the switch instead of surfacing as a bare
    // hash mismatch (round-11 ADVICE). Guarded at each query's OWN
    // flip point: q_dedup_semantic assigns the full corpus
    // (k = semanticK(n)); the door family assigns its base HALF
    // (k = semanticK(n/2) — guarding on the full count would abort
    // oracle-green runs); q_dedup_semantic_recall needs no guard (its
    // top-3 assignToSeeds runs the default Exact search at any k).
    def guardExactAssign(queries: Set[String], nVecs: => Long): Unit =
      if (selected.exists(queries)) {
        val n = nVecs
        val k = operators.Dedup.semanticK(n)
        require(k <= operators.Dedup.ExactAssignMaxSeeds,
          s"semanticK($n)=$k > ExactAssignMaxSeeds=" +
            s"${operators.Dedup.ExactAssignMaxSeeds} for ${queries.mkString(",")}: " +
            "the adaptive assigner would take the approximate IVF path " +
            "while the DuckDB oracles stay exact — re-point the oracles " +
            "or raise the threshold")
      }
    lazy val nEmb = Tables(spark, sfDir, "embeddings").count()
    guardExactAssign(Set("q_dedup_semantic"), nEmb)
    guardExactAssign(Set("q_stream_semantic_filter",
      "q_stream_semantic_filter_p3"),
      Tables(spark, sfDir, "embeddings")
        .filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0)
        .count())
    selected.foreach { name =>
      Bench.runQuery(spark, sfDir, name)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
