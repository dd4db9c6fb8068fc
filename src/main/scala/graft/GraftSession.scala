package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is configured. Every main and
  * the test suites build through [[local]], so the settings the engine
  * relies on cannot drift apart between them. A caller that needs more
  * sets it as a runtime conf on the returned session.
  */
object GraftSession {

  /** A local-mode session with `cpus` task slots and as many shuffle
    * partitions, resolving [[GraftExtensions]]' function table (so does
    * every `newSession()` fork of it). AQE is on (the executed
    * configuration), timestamps are UTC, events.ts's TIMESTAMP(NANOS)
    * reads as a long (`Tables` converts it to µs), and the warehouse
    * that bucketed-table `saveAsTable` writes sits under
    * `java.io.tmpdir`, not the working directory. Log level ERROR:
    * thousands of WindowExec "No Partition Defined" WARN lines would
    * otherwise push Bench's JSON line out of a bounded output tail
    * (PlanShapeSpec checks for those windows instead).
    */
  def local(app: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
