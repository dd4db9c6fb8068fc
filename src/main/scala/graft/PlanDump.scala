package graft

/** Writes `.explain("formatted")` for named queries to files — the
  * plans/r15 evidence the optimization rounds commit alongside each
  * change (guide §1: capture the plan before and after).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]
  * writes <outDir>/<query>_<suffix>.txt per query.
  *
  * Same session as Bench (GraftSession, AQE ON — the executed configuration;
  * the initial plan is what explain shows pre-execution, and Exchange
  * placement/join strategy are already decided there).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-plandump",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val out = java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt")
      val (dt, ok) = Bench.runQuery(spark, sfDir, name) { df =>
        java.nio.file.Files.writeString(out, df.queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
      }
      if (ok) println(f"[plandump] wrote $out plan_s=$dt%.2f bytes=${out.toFile.length}")
    }
    spark.stop()
  }
}
