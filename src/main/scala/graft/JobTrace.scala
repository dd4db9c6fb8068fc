package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}

/** Local measurement probe for the optimization rounds — NOT part of the
  * driver contract. Same session, set-up and runner as [[Bench]] (noop
  * sink, per-query clearCache, 2-batch doors), but runs each named query
  * `reps` times. A SparkListener prints every job's (start-offset,
  * duration, description) relative to the rep's t0, so the per-door
  * fixed costs (engine WAL/commit gaps, per-batch planning, src-write
  * jobs) are attributable: the GAPS between jobs are driver-side work
  * (planning, codegen, streaming-engine bookkeeping, commit protocol),
  * the jobs themselves are cluster work. Each query ends with its MIN
  * and median rep, so a change can be adjudicated under bursty ambient
  * load (BASELINE.md method: the minimum of several reps is the
  * load-robust statistic; a single "warm second run" is not).
  *
  * Usage: runMain graft.JobTrace <q1,q2,...> [reps]
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args(0).split(",").toSeq
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = GraftSession.local("graft-jobtrace",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.conf.set(graft.streaming.Streaming.DoorBatchesConf, "2")
    try {
      Bench.runSetup(spark, sfDir)
      @volatile var t0 = System.nanoTime()
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      var traceOn = false
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = if (traceOn) {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(js.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          starts.put(js.jobId, (System.nanoTime(), desc))
        }
        override def onJobEnd(je: SparkListenerJobEnd): Unit = if (traceOn) {
          Option(starts.get(je.jobId)).foreach { case (ts, desc) =>
            val off = (ts - t0) / 1e9
            val dur = (System.nanoTime() - ts) / 1e9
            println(f"[trace] job ${je.jobId}%4d at $off%7.3f dur $dur%6.3f  $desc")
          }
        }
      })
      names.foreach { name =>
        val ts = (1 to reps).map { r =>
          println(s"=== $name rep $r ===")
          starts.clear()
          t0 = System.nanoTime()
          traceOn = true
          val (dt, ok) = Bench.runQuery(spark, sfDir, name)(Bench.noop)
          traceOn = false
          // listener delivery is async: give the bus a beat before the
          // next rep clears the start map
          Thread.sleep(300)
          println(f"[trace] $name rep$r TOTAL $dt%.2f s" + (if (ok) "" else " FAILED"))
          dt
        }.sorted
        println(f"[trace] $name MIN ${ts.head}%.2f MED ${ts(ts.size / 2)}%.2f")
      }
    } finally spark.stop()
  }
}
