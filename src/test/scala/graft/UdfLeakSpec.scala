package graft

/** Repo-wide plan hygiene gate: no registered query may carry a boxed
  * Scala UDF (or a Python eval node) in its optimized plan — every scalar
  * hot path must be a built-in or a native codegen Expression, as a
  * failing test rather than printed plan markers.
  *
  * Typed operations (mapGroups / Aggregator / the MapReduceJob RDD core)
  * are object-operators, not ScalaUDF nodes, so they pass — the gate
  * targets exactly the `udf {}`-style per-row boxing that kills codegen.
  */
class UdfLeakSpec extends SparkSpec {

  // queries that RUN the streaming engine when constructed — skipped by
  // identity, not name prefix, so the batch q_stream_sessionize stays
  // covered and a future engine query added without updating this list
  // shows up as a slow test instead of silently losing coverage
  private val engineRunning = Set(
    "q_stream_tumbling", "q_stream_sliding", "q_stream_durable",
    "q_stream_dedup", "q_stream_static_join", "q_stream_stream_join")

  test("no registered query plans a ScalaUDF or Python eval node") {
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (engineRunning(name)) None
      else {
        val plan = fn(spark, sf0001).queryExecution.optimizedPlan.toString
        val bad = Seq("ScalaUDF", "BatchEvalPython", "PythonUDF").filter(plan.contains)
        if (bad.nonEmpty) Some(s"$name -> ${bad.mkString(",")}") else None
      }
    }
    assert(leaks.isEmpty, s"boxed UDFs leaked into: ${leaks.mkString("; ")}")
  }
}
