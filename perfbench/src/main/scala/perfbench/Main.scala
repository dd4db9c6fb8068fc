package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.SparkEntry

/** The benchmark harness. One JVM runs one workload:
  *
  *  1. checks the generated inputs against their manifest digest;
  *  2. sets up `SetupReps` times: a fresh SparkSession, a fresh store
  *     root, cold builds of the workload's stores, the workload's
  *     warm-up passes (`setup_s` is the median);
  *  3. runs timed passes over the operation list in the last set-up's
  *     session for `seconds` (at least `MinPasses`), one operation after
  *     the other;
  *  4. checks every operation's output, untimed;
  *  5. prints one JSON line: end-to-end metrics, or with `--trace 1`
  *     the per-layer metrics of [[Layers]].
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --golden FILE [--spans FILE]
  */
object Main {
  val SetupReps = 3
  val MinPasses = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, golden: String, spans: Option[String])

  def parseOpts(args: Array[String]): Opts = {
    val m = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--data"), need("--work"), need("--golden"),
      m.get("--spans"))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parseOpts(args))
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush()
    sys.exit(code)
  }

  final case class OpRun(op: String, tag: String, s: Double, ok: Boolean, batches: Seq[Batch])
  final case class Pass(label: String, traced: Boolean, wall: Double, startMs: Long, endMs: Long,
      ops: Seq[OpRun], sums: TaskSums.Snap, peakHeapMb: Double) {
    def batches: Seq[Batch] = ops.flatMap(_.batches)
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def sha256(f: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(Files.readAllBytes(f.toPath))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Recomputes every input file's SHA-256 and the combined digest the
    * generator recorded; returns the manifest. */
  def verifyInputs(data: String): JValue = {
    implicit val fmt: Formats = DefaultFormats
    val manifest = parse(new String(Files.readAllBytes(Paths.get(data, "manifest.json")), "UTF-8"))
    val files = (manifest \ "files").extract[Map[String, String]]
    files.foreach { case (rel, want) =>
      val got = sha256(new File(data, rel))
      if (got != want) sys.error(s"input $rel: sha256 $got, manifest says $want")
    }
    val all = files.toSeq.sorted.map { case (k, v) => s"$k=$v\n" }.mkString
    val digest = MessageDigest.getInstance("SHA-256").digest(all.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (digest != (manifest \ "digest").extract[String])
      sys.error(s"input digest $digest differs from the manifest")
    manifest
  }

  private def session(o: Opts): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(o: Opts): Int = {
    implicit val fmt: Formats = DefaultFormats
    val w = Workloads(o.workload)
    val manifest = verifyInputs(o.data)
    val goldenJson = parse(new File(o.golden))
    val defaultSeed = (goldenJson \ "default_seed").extractOpt[Long].getOrElse(1L)
    val goldenW = goldenJson \ "workloads" \ w.name
    val golden: Option[Map[String, Digest]] =
      if (o.seed != defaultSeed || goldenW == JNothing) None
      else Some((goldenW \ "queries").extract[Map[String, JValue]].map { case (q, v) =>
        q -> Digest((v \ "rows").extract[Long], (v \ "digest").extract[String]) })
    val inputDigest = (manifest \ "digest").extract[String]
    if (o.seed == defaultSeed) (goldenW \ "input_digest").extractOpt[String].foreach { g =>
      if (g != inputDigest) sys.error(s"seed ${o.seed} input digest $inputDigest, golden $g")
    }
    val planted = (parse(new File(o.data, "truth.json")) \ "planted_pairs")
      .extract[Seq[Seq[Long]]].map(p => (p(0), p(1)))
    val docs = (manifest \ "rows" \ "documents").extract[Long]

    val sums = new TaskSums
    val batchLog = new BatchLog
    val tracer = new Tracer
    var spark: SparkSession = null
    // G1 puts arrays of half a region or more (Spark's memory pages, the
    // shuffle's hash maps) straight into old-gen regions, so the old
    // generation's peak in a pass counts them as well as what the pass
    // promotes; the live set after a full collection is far lower
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getType == MemoryType.HEAP && p.getName.contains("Old Gen"))

    /** Runs `body` with Spark jobs tagged as operation `tag`. */
    def tagged[T](tag: String, name: String)(body: => T): T = {
      val sc = spark.sparkContext
      sc.setJobGroup(tag, name)
      sc.setLocalProperty("perfbench.op", tag)
      try body
      finally { sc.clearJobGroup(); sc.setLocalProperty("perfbench.op", null) }
    }

    def runOp(op: String, tag: String, traced: Boolean): OpRun = tagged(tag, op) {
      val sc = spark.sparkContext
      val nb = batchLog.size
      val t0 = System.nanoTime()
      val ok = tracer.span(tag, "query", op) {
        val ok =
          try { SparkEntry.queries(op)(spark, o.data).write.mode("overwrite").format("noop").save(); true }
          catch { case e: Exception => log(s"$op failed: ${e.getClass.getSimpleName}: ${e.getMessage}"); false }
        if (traced) PerfbenchBus.drain(sc)
        ok
      }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      OpRun(op, tag, dt, ok, if (traced) batchLog.since(nb) else Nil)
    }

    def runPass(label: String, traced: Boolean): Pass = {
      // every pass starts from a collected heap, so a pass neither pays
      // for its predecessor's garbage nor lands on a collection by chance
      System.gc()
      heap.foreach(_.resetPeakUsage())
      tracer.enabled = traced
      val before = sums.snapshot
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ops = tracer.span(label, "pass", label) {
        w.ops.map(op => runOp(op, s"$label:$op", traced))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      PerfbenchBus.drain(spark.sparkContext)
      tracer.enabled = false
      Pass(label, traced, wall, startMs, endMs, ops, sums.snapshot - before,
        heap.map(_.getPeakUsage.getUsed / 1048576.0).getOrElse(0.0))
    }

    // -- set-up, repeated in fresh sessions and fresh store roots ----------
    def storeRoot(r: Int) = s"${o.work}/stores-$r"
    val storeTimes = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val setupTimes = (1 to SetupReps).map { r =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      // the program roots its persisted stores at java.io.tmpdir
      System.setProperty("java.io.tmpdir", storeRoot(r))
      new File(storeRoot(r)).mkdirs()
      val t0 = System.nanoTime()
      spark = session(o)
      spark.sparkContext.addSparkListener(sums)
      if (o.trace) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        spark.streams.addListener(batchLog)
      }
      tracer.enabled = o.trace
      w.stores.foreach { st =>
        val s0 = System.nanoTime()
        val tag = s"setup$r:${st.label}"
        tagged(tag, st.label)(tracer.span(tag, "store", st.label)(st.build(spark, o.data)))
        storeTimes(st.label) = storeTimes.getOrElse(st.label, Vector.empty) :+
          (System.nanoTime() - s0) / 1e9
      }
      (1 to w.warmupPasses).foreach(i => runPass(s"warmup$r.$i", traced = false))
      val dt = (System.nanoTime() - t0) / 1e9
      log(f"setup $r: $dt%.3f s")
      dt
    }
    // the timed passes run in the last set-up's session; a store the
    // warm-up passes had to build is missing from w.stores
    val built = Option(new File(s"${storeRoot(SetupReps)}/graft_fixtures").listFiles).toSeq
      .flatten.flatMap(d => Option(d.listFiles).toSeq.flatten).map(_.getName).sorted
    log(s"store root after warm-up holds ${built.mkString(", ")}")

    // -- timed passes ---------------------------------------------------------
    val t0 = System.nanoTime()
    val done = scala.collection.mutable.ArrayBuffer.empty[Pass]
    while (done.size < (if (o.trace) 4 else MinPasses) ||
        (System.nanoTime() - t0) / 1e9 < o.seconds) {
      // a traced run alternates untraced and traced passes, so it can
      // report its own overhead
      val i = done.size + 1
      done += runPass(s"p$i", traced = o.trace && i % 2 == 0)
      log(f"pass p$i: ${done.last.wall}%.3f s")
    }

    // -- traced extras: MapReduce phases, expression microbenchmark, doors --
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var doorRuns = Seq.empty[OpRun]
    var mrCopy = Map.empty[String, Digest]
    if (o.trace) {
      tracer.enabled = true
      if (w == Workloads.mrCorpus) {
        // record counts: the counting copy of the MapReduce jobs; its
        // output digests are checked against the program's below
        val c = new MrCounters(spark.sparkContext)
        mrCopy = MrTrace.jobs(spark, o.data, c).map { case (name, df) =>
          val tag = s"mr:$name"
          name -> tagged(tag, name)(tracer.span(tag, "mr", name) {
            val d = Check.digest(df()); PerfbenchBus.drain(spark.sparkContext); d })
        }.toMap
        // stage figures: the program's own MapReduce queries in the traced
        // passes, summed per pass; a stage that writes shuffle is a map stage
        val stages = tracer.spans.filter(_.kind == "stage")
        def sumAttr(ss: Seq[Span], k: String) = ss.map(_.attrs.getOrElse(k, 0.0)).sum
        val perPass = done.filter(_.traced).toSeq.map { p =>
          val ss = stages.filter(s => MrTrace.queries.exists(q => s.op == s"${p.label}:$q"))
          val (mapSt, redSt) = ss.partition(_.attrs.getOrElse("shuffle_write_mb", 0.0) > 0)
          Map(
            "mr.shuffle.write_mb" -> sumAttr(ss, "shuffle_write_mb"),
            "mr.spill_mb" -> sumAttr(ss, "spill_mb"),
            "mr.map_stage.s" -> mapSt.map(_.s).sum,
            "mr.map_stage.cpu_s" -> sumAttr(mapSt, "cpu_s"),
            "mr.reduce_stage.s" -> redSt.map(_.s).sum,
            "mr.reduce_stage.cpu_s" -> sumAttr(redSt, "cpu_s"))
        }
        layers ++= Seq(
          "mr.map.records_out" -> c.mapOut.value.toDouble,
          "mr.combine.records_out" -> c.combineOut.value.toDouble,
          "mr.combine.ratio" -> c.combineOut.value.toDouble / math.max(1L, c.mapOut.value),
          "mr.reduce.groups" -> c.groups.value.toDouble,
          "mr.reduce.max_values" -> c.maxValues.value.toDouble)
        perPass.headOption.foreach(_.keys.foreach(k => layers(k) = Stats.median(perPass.map(_(k)))))
      }
      tagged("fn", "graft.functions")(tracer.span("fn", "fn", "graft.functions") {
        FnBench.run(spark, o.data, minRows = 100000L, reps = 3)
      }).foreach { case (f, ns) => layers(s"fn.$f.ns_per_row") = ns }
      doorRuns = w.doors.flatMap(d => (1 to 3).map(i => runOp(d, s"door$i:$d", traced = true)))
      if (w.ops.contains("q_dedup_minhash"))
        layers("dedup.candidates_per_pair") = Plans.candidatesPerPair(
          done.filter(_.traced).map(p => tracer.plansOf(s"${p.label}:q_dedup_minhash")).toSeq)
      tracer.enabled = false
    }

    // -- output check, untimed ------------------------------------------------
    log(f"timed passes done after ${(System.nanoTime() - t0) / 1e9}%.1f s; per-op medians: " +
      w.ops.map(op => f"$op ${Stats.median(done.flatMap(_.ops).filter(_.op == op).map(_.s))}%.2f")
        .mkString(", "))
    val (checked, digests, recall) =
      Check.run(spark, o.data, w, golden, planted, minRecall = 0.9)
    val verdicts = checked ++ mrCopy.toSeq.sortBy(_._1).map { case (q, d) =>
      val ok = digests.get(q).contains(d)
      Verdict(s"counting copy of $q", ok, if (ok) "ok" else
        s"copy gives ${d.rows} rows ${d.hash}, the program " +
          digests.get(q).fold("no output")(p => s"${p.rows} rows ${p.hash}"))
    }
    verdicts.filterNot(_.ok).foreach(v => log(s"CHECK FAILED ${v.op}: ${v.detail}"))
    recall.foreach(r => log(f"q_dedup_minhash planted-pair recall: $r%.4f (${planted.size} pairs)"))

    log(f"checks done after ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val timedRuns = done.flatMap(_.ops)
    val attempted = timedRuns.size + verdicts.size
    val failed = timedRuns.count(!_.ok) + verdicts.count(!_.ok)
    val correct = failed == 0

    // -- metrics --------------------------------------------------------------
    val untraced = done.filterNot(_.traced).toSeq
    val wall = Stats.median(untraced.map(_.wall))
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        log(f"failed_frac: ${failed.toDouble / attempted}%.4f ($failed of $attempted operations)")
        Seq(
          ("setup_s", Stats.median(setupTimes), "s"),
          ("wall_s", wall, "s"),
          ("cpu_s", Stats.median(untraced.map(_.sums.cpuNs / 1e9)), "s"),
          ("rows_per_s", docs / wall, "rows/s"),
          ("peak_heap_mb", Stats.median(untraced.map(_.peakHeapMb)), "MB"))
      } else {
        val traced = done.filter(_.traced).toSeq
        layers("trace.overhead_s") = Stats.median(traced.map(_.wall)) - wall
        recall.foreach(r => layers("dedup.planted_recall") = r)
        val spans = tracer.spans
        layers ++= Layers.derive(w, traced, done.toSeq, doorRuns, spans, storeTimes.toMap)
        o.spans.foreach(f => Layers.writeSpans(f, spans, traced.flatMap(_.ops) ++ doorRuns))
        Layers.all.map { case (name, unit, _) => (name, layers.getOrElse(name, 0.0), unit) }
      }

    spark.stop()
    val body = metrics.map { case (k, v, u) =>
      val value = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": {"value": $value, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    0
  }
}
