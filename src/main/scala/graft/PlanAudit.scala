package graft

/** Prints physical-plan audit markers for the headline queries — the
  * .explain loop the builder uses to keep plans scale-shaped.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.local("graft-planaudit", 8)
    // AQE off: un-executed adaptive plans hide Exchange nodes and codegen
    // ids from explain; the audit wants the static plan shape (AQE stays
    // on in Bench/Verify where it acts at runtime)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val interesting = Seq("q_scan_project", "q1_agg", "q_join_inner",
      "q_join_broadcast", "q_join_range", "q_topk_global", "q_wordcount",
      "q_window_frames", "q_ann_bruteforce", "q_dedup_minhash",
      "q_skew_join", "q_tf_df", "q_sliding_window",
      "q_dedup_cross", "q_dedup_embedding", "q_dedup_simhash", "q_ann_lsh",
      "q_lateral_topk", "q_tpch_q3", "q_tpch_q6", "q_tpch_q7", "q_tpch_q8", "q_tpch_q13",
      "q_tpch_q14", "q_tpch_q15", "q_ann_cross", "q_join_bucketed",
      "q_decontaminate", "q_vocab_coverage", "q_merge_upsert",
      "q_join_bloom", "q_scan_partitioned",
      "q_assoc_rules", "q_rfm", "q_char_entropy", "q_repetition",
      "q_jaro_names", "q_funnel_steps",
      // round-8 additions: the curation capstones + the data-prep ops
      "q_gopher_rules", "q_pipeline_llm", "q_dsir", "q_corpus_shuffle",
      "q_triplet_mine", "q_mixture_temperature", "q_ccnet_buckets",
      // round-9: bounded-quantile routing, id-keyed segment dedup,
      // store-backed LM scoring, iterative BPE training
      "q_equidepth", "q_outlier_mad", "q_line_dedup", "q_perplexity",
      "q_bigram_lm", "q_bpe_train", "q_pack_sequences", "q_corpus_split",
      "q_pipeline_tokenizer",
      // round-10: store-backed tokenizer reads + the loader-facing
      // packed-segment emission
      "q_bpe_encode", "q_pack_emit")
    interesting.foreach { name =>
      val qe = SparkEntry.queries(name)(spark, dir).queryExecution
      val plan = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      val markers = Seq(
        "PushedFilters" -> "PushedFilters: \\[[^\\]]+\\]".r.findFirstIn(plan).getOrElse("none"),
        "ReadSchema" -> "ReadSchema: [^\n]+".r.findAllIn(plan).mkString(" | ").take(300),
        "joins" -> Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")
          .filter(plan.contains).mkString(","),
        "TakeOrdered" -> (if (plan.contains("TakeOrderedAndProject")) "yes" else "no"),
        "exchanges" -> "\\(\\d+\\) Exchange".r.findAllIn(plan).length.toString,
        "codegenSpans" -> "codegen id : \\d+".r.findAllIn(plan)
          .toSeq.distinct.length.toString,
        // persist effectiveness: parquet scans vs cache reads — a dedup
        // self-join should hit the parquet source ONCE
        "parquetScans" -> "Scan parquet".r.findAllIn(plan).length.toString,
        "cacheScans" -> "InMemoryTableScan".r.findAllIn(plan).length.toString,
        // boxed-UDF leak check: hot paths must stay native/codegen
        // ("UDF(" is how formatted mode renders an anonymous Scala UDF;
        // only reported when "ScalaUDF" didn't already match — it's a
        // substring, so one leak must not double-report)
        "udfs" -> {
          val ms = Seq("ScalaUDF", "BatchEvalPython").filter(plan.contains)
          (if (ms.isEmpty && plan.contains("UDF(")) ms :+ "UDF(" else ms)
            .mkString(",")
        })
      println(s"=== $name")
      markers.foreach { case (k, v) => if (v.nonEmpty) println(s"  $k: $v") }
    }
    spark.stop()
  }
}
