package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Running totals of task metrics. The only SparkListener of an untraced
  * run; per-pass figures are differences of two snapshots.
  */
final class TaskSums extends SparkListener {
  private val cpuNs, tasks, retries, shuffleBytes, spillBytes = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.taskInfo.attemptNumber > 0 || e.reason != Success) retries.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot: TaskSums.Snap =
    TaskSums.Snap(cpuNs.get, tasks.get, retries.get, shuffleBytes.get, spillBytes.get)
}

object TaskSums {
  final case class Snap(cpuNs: Long, tasks: Long, retries: Long, shuffleBytes: Long,
      spillBytes: Long) {
    def -(o: Snap): Snap = Snap(cpuNs - o.cpuNs, tasks - o.tasks, retries - o.retries,
      shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
  }
}

/** One streaming micro-batch as its progress event reports it. */
final case class Batch(startMs: Long, triggerMs: Long, addBatchMs: Long, rows: Long)

/** Micro-batch durations of every streaming query in the session. */
final class BatchLog extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    // a trigger that found no new file runs no batch
    if (p.numInputRows > 0 || d.contains("addBatch")) synchronized {
      batches += Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
        d.get("triggerExecution").map(_.longValue).getOrElse(0L),
        d.get("addBatch").map(_.longValue).getOrElse(0L), p.numInputRows)
    }
  }

  def size: Int = synchronized(batches.size)
  def since(n: Int): Seq[Batch] = synchronized(batches.drop(n).toSeq)
}

/** A timed interval of the traced run. `op` is the operation the span
  * belongs to; it is carried to Spark jobs through the job group and the
  * `perfbench.op` local property, which streaming threads inherit.
  */
final case class Span(id: Long, op: String, kind: String, name: String,
    startMs: Long, endMs: Long, parent: Long, attrs: Map[String, Double] = Map.empty) {
  def s: Double = (endMs - startMs) / 1000.0
}

/** Span recorder for the traced run: harness-side spans (pass, query,
  * store build, MapReduce phase) are opened by [[span]]; Spark jobs and
  * stages come from the listener callbacks; micro-batches from
  * [[BatchLog]] at the end. Everything stays in memory until [[spans]].
  * While `enabled` is false every callback returns at once, which is how
  * the traced run measures its own overhead.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  private val ids = new AtomicLong
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Long]                                 // open harness spans
  private val opSpan = mutable.Map.empty[String, Long]                 // op -> its innermost open span
  private val jobs = mutable.Map.empty[Int, (Long, String, Long, Long)] // job -> (span, op, parent, start)
  private val stageJob = mutable.Map.empty[Int, (Long, String)]        // stage -> (job span, op)
  private val plans = mutable.ArrayBuffer.empty[(String, QueryExecution)]
  @volatile private var current = ""

  private def nextId(): Long = ids.incrementAndGet()

  /** Runs `body` inside a harness span of `kind` for operation `op`. The
    * harness drains the listener bus inside the span, so the jobs the
    * body started are parented to it. */
  def span[T](op: String, kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val (parent, outer) = synchronized {
        val p = stack.headOption.getOrElse(0L)
        stack = id :: stack
        val o = opSpan.get(op)
        opSpan(op) = id
        (p, o)
      }
      val before = current
      current = op
      val t0 = System.currentTimeMillis()
      try body
      finally synchronized {
        current = before
        stack = stack.tail
        outer.fold(opSpan.remove(op))(o => opSpan.put(op, o))
        done += Span(id, op, kind, name, t0, System.currentTimeMillis(), parent)
      }
    }

  def add(s: Span): Unit = synchronized(done += s)
  def spans: Seq[Span] = synchronized(done.toSeq)
  def plansOf(op: String): Seq[QueryExecution] =
    synchronized(plans.filter(_._1 == op).map(_._2).toSeq)

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.op")))
      .orElse(Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val op = opOf(e.properties)
    val id = nextId()
    jobs(e.jobId) = (id, op, opSpan.getOrElse(op, 0L), e.time)
    e.stageIds.foreach(s => stageJob(s) = (id, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
    jobs.remove(e.jobId).foreach { case (id, op, parent, t0) =>
      done += Span(id, op, "job", s"job ${e.jobId}", t0, e.time, parent)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    val i = e.stageInfo
    val (parent, op) = stageJob.getOrElse(i.stageId, (0L, ""))
    val m = i.taskMetrics
    val attrs = Map("tasks" -> i.numTasks.toDouble) ++ Option(m).map(m => Map(
      "cpu_s" -> (m.executorCpuTime + m.executorDeserializeCpuTime) / 1e9,
      "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / 1048576.0,
      "shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / 1048576.0,
      "spill_mb" -> (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)).getOrElse(Map.empty)
    done += Span(nextId(), op, "stage", s"stage ${i.stageId}: ${i.name}",
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), parent, attrs)
  }

  /** Executed plans, by the operation that was current when the query
    * ran; the harness drains the bus before it moves to the next one. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) synchronized(plans += ((current, qe)))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
