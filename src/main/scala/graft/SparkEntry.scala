package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract (SURVEY.md §7): every implemented operator from
  * SURVEY.md §2 registers a named query here; SQL-expressible ones carry
  * a DuckDB oracle in [[oracleSql]] (column names aligned on both sides;
  * the driver sorts columns by name and hashes values). [[queries]] need
  * a session resolving graft's functions: [[GraftSession.local]]'s, or one
  * with `spark.sql.extensions=graft.GraftExtensions` ([[entry]]'s need not).
  */
object SparkEntry {

  /** Flagship: the reference's own word-count program (example.py:12-18)
    * over sf0.001 documents. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    Text.queries("q_wordcount")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Joins.queries ++ Windows.queries ++
      Scalars.queries ++ Text.queries ++ Holistic.queries ++
      Dedup.queries ++ Similarity.queries ++ Multimodal.queries ++
      Sources.queries ++ Stats.queries ++ Graph.queries ++
      Mining.queries ++ TpchExt.queries ++ LangId.queries ++
      graft.streaming.Streaming.queries

  /** DuckDB-runnable ANSI SQL per query (omitted for non-SQL-expressible
    * ops — approximate sketches, LSH candidates, the stubbed decoder —
    * which get the driver's rows-only check plus ScalaTest coverage).
    */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Joins.oracles ++ Windows.oracles ++
      Scalars.oracles ++ Text.oracles ++ Holistic.oracles ++
      Dedup.oracles ++ Similarity.oracles ++ Multimodal.oracles ++
      Sources.oracles ++ Stats.oracles ++ Graph.oracles ++
      Mining.oracles ++ TpchExt.oracles ++ LangId.oracles ++
      graft.streaming.Streaming.oracles
}
