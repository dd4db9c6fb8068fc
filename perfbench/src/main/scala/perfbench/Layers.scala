package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

import perfbench.Main.{OpRun, Pass}

/** The per-layer metrics of a traced run. Every traced run reports every
  * metric; a layer the workload does not reach reports 0. */
object Layers {
  private val queries = Workloads.all.flatMap(_.ops)
  private val stores = Workloads.all.flatMap(_.stores.map(_.label)).distinct
  private val doors = Workloads.all.flatMap(_.doors)

  /** (name, unit, better) — the same list, in the same order, as
    * `per_layer` in BENCHMARK.json. */
  val all: Seq[(String, String, String)] =
    Seq(
      ("mr.map.records_out", "count", "lower"),
      ("mr.combine.records_out", "count", "lower"),
      ("mr.combine.ratio", "ratio", "lower"),
      ("mr.shuffle.write_mb", "MB", "lower"),
      ("mr.spill_mb", "MB", "lower"),
      ("mr.reduce.groups", "count", "higher"),
      ("mr.reduce.max_values", "count", "lower"),
      ("mr.map_stage.s", "s", "lower"),
      ("mr.map_stage.cpu_s", "s", "lower"),
      ("mr.reduce_stage.s", "s", "lower"),
      ("mr.reduce_stage.cpu_s", "s", "lower")) ++
    FnBench.exprs.map { case (f, _, _, _) => (s"fn.$f.ns_per_row", "ns", "lower") } ++
    queries.flatMap(q => Seq((s"q.$q.s", "s", "lower"), (s"q.$q.cpu_s", "s", "lower"))) ++
    Seq(("dedup.candidates_per_pair", "ratio", "lower"),
      ("dedup.planted_recall", "ratio", "higher")) ++
    stores.map(st => (s"store.$st.build_s", "s", "lower")) ++
    doors.flatMap(d => Seq((s"door.$d.stage_s", "s", "lower"), (s"door.$d.batch_s", "s", "lower"),
      (s"door.$d.overhead_s", "s", "lower"))) ++
    Seq(("spark.tasks", "count", "lower"),
      ("spark.task_retries", "count", "lower"),
      ("spark.driver_gap_s", "s", "lower"),
      ("spark.shuffle_mb", "MB", "lower"),
      ("spark.spill_mb", "MB", "lower"),
      ("trace.overhead_s", "s", "lower"))

  /** Length of the union of [lo, hi) intervals, clipped to [from, to). */
  private def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    clipped.foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
      if (b <= end) (sum, end)
      else (sum + b - math.max(a, end), b)
    }._1
  }

  def derive(w: Workload, traced: Seq[Pass], all: Seq[Pass], doorRuns: Seq[OpRun],
      spans: Seq[Span], storeTimes: Map[String, Vector[Double]]): Map[String, Double] = {
    val stages = spans.filter(_.kind == "stage").groupBy(_.op)
    val querySpans = spans.filter(_.kind == "query").map(s => s.op -> s).toMap
    val perQuery = w.ops.flatMap { op =>
      val runs = traced.flatMap(_.ops).filter(_.op == op)
      Seq(s"q.$op.s" -> Stats.median(runs.map(_.s)),
        s"q.$op.cpu_s" -> Stats.median(runs.map(r =>
          stages.getOrElse(r.tag, Nil).map(_.attrs.getOrElse("cpu_s", 0.0)).sum)))
    }
    val perStore = storeTimes.map { case (label, ts) => s"store.$label.build_s" -> Stats.median(ts) }
    val perDoor = w.doors.flatMap { op =>
      val runs = doorRuns.filter(_.op == op)
      val batches = runs.flatMap(_.batches)
      Seq(
        s"door.$op.stage_s" -> Stats.median(runs.flatMap(r => for {
          q <- querySpans.get(r.tag); first <- r.batches.map(_.startMs).minOption
        } yield (first - q.startMs) / 1000.0)),
        s"door.$op.batch_s" -> Stats.median(batches.map(_.addBatchMs / 1000.0)),
        s"door.$op.overhead_s" -> Stats.median(batches.map(b => (b.triggerMs - b.addBatchMs) / 1000.0)))
    }
    val jobs = spans.filter(_.kind == "job")
    val engine = Seq(
      "spark.tasks" -> Stats.median(all.map(_.sums.tasks.toDouble)),
      "spark.task_retries" -> Stats.median(all.map(_.sums.retries.toDouble)),
      "spark.shuffle_mb" -> Stats.median(all.map(_.sums.shuffleBytes / 1048576.0)),
      "spark.spill_mb" -> Stats.median(all.map(_.sums.spillBytes / 1048576.0)),
      "spark.driver_gap_s" -> Stats.median(traced.map { p =>
        val iv = jobs.filter(_.op.startsWith(p.label + ":")).map(j => (j.startMs, j.endMs))
        (p.endMs - p.startMs - covered(iv, p.startMs, p.endMs)) / 1000.0
      }))
    (perQuery ++ perStore ++ perDoor ++ engine).toMap
  }

  /** All spans of the run, one JSON object per line, micro-batches
    * included as children of their door's query span. */
  def writeSpans(file: String, spans: Seq[Span], runs: Seq[OpRun]): Unit = {
    val querySpans = spans.filter(_.kind == "query").map(s => s.op -> s).toMap
    var id = spans.map(_.id).maxOption.getOrElse(0L)
    val batchSpans = for {
      r <- runs; q <- querySpans.get(r.tag).toSeq; b <- r.batches
    } yield {
      id += 1
      Span(id, r.tag, "batch", "micro-batch", b.startMs, b.startMs + b.triggerMs, q.id,
        Map("add_batch_s" -> b.addBatchMs / 1000.0, "rows" -> b.rows.toDouble))
    }
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val all = spans ++ batchSpans
    val children = all.groupBy(_.parent)
    val lines = all.sortBy(_.startMs).map { s =>
      // self time: the span minus the part of it its children cover
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val self = (s.endMs - s.startMs - covered(kids, s.startMs, s.endMs)) / 1000.0
      val attrs = (s.attrs + ("self_s" -> self)).map { case (k, v) => s"${str(k)}: $v" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${str(s.op)}, "kind": ${str(s.kind)}, """ +
        s""""name": ${str(s.name)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "attrs": {$attrs}}"""
    }
    Files.write(Paths.get(file), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Reads q_dedup_minhash's useful-work ratio from its executed plans. */
object Plans {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Band-join output rows ÷ verified pairs (the rows the plan wrote),
    * the median over the traced runs of the query. The band join is the
    * self-join on the (band, band hash) key pair. */
  def candidatesPerPair(runs: Seq[Seq[QueryExecution]]): Double = Stats.median(runs.flatMap { qes =>
    // the last execution of the operation is its noop write
    val all = qes.lastOption.map(qe => nodes(qe.executedPlan)).getOrElse(Nil)
    val keys = (p: SparkPlan) => p match {
      case j: SortMergeJoinExec => j.leftKeys.map(_.sql)
      case j: ShuffledHashJoinExec => j.leftKeys.map(_.sql)
      case j: BroadcastHashJoinExec => j.leftKeys.map(_.sql)
      case _ => Nil
    }
    val band = all.filter(p => keys(p).exists(_.contains("band"))).map(rows).sum
    val pairs = all.find(_.metrics.contains("numOutputRows")).map(rows).getOrElse(0L)
    if (band > 0 && pairs > 0) Some(band.toDouble / pairs) else None
  })
}
