package graft

import org.apache.spark.sql.functions._

import graft.streaming.Streaming
import graft.streaming.Streaming.Ev

/** Streaming extension: the streaming ops' results are pinned against
  * their batch twins (which are themselves DuckDB-oracled queries).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def eventsDs = Tables(spark, sf0001, "events")
    .select(col("user_id"), col("event_id"),
      unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
    .as[Ev]

  test("spreadArrivals gates the batch spread on arrival file size") {
    // the decision must come from the door's src DIRECTORY (a
    // foreachBatch frame is an RDDScanExec and exposes no files —
    // round-15: the first inputFiles-based cut silently never spread,
    // which would have regressed every at-scale door receipt)
    val root = java.nio.file.Files
      .createTempDirectory("graft_spreadlaw").toString
    Tables(spark, sf0001, "documents").select("doc_id", "text")
      .repartition(2).write.mode("overwrite").parquet(s"$root/src")
    // sub-MB sf0.001 files: below the default 1 MiB threshold
    assert(!Streaming.spreadArrivals(spark, s"$root/src"))
    // one arrival file of >= 1 MiB must spread: 50k sha2 hex digests
    // (~3.2 MB) stay above the threshold whatever the codec does
    spark.range(50000).select(sha2(col("id").cast("string"), 256).as("text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/big")
    assert(Streaming.spreadArrivals(spark, s"$root/big"))
    // and the spread itself is a pure layout change
    val df = spark.read.parquet(s"$root/src")
    val spreadDf = Streaming.spreadBatch(df, doSpread = true)
    assert(spreadDf.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    assert(spreadDf.exceptAll(df).isEmpty && df.exceptAll(spreadDf).isEmpty)
  }

  test("door split is session-scoped: a forked session set to 2 leaves its parent at 4") {
    val fork = spark.newSession()
    fork.conf.set(Streaming.DoorBatchesConf, "2")
    assert(Streaming.doorSplit(fork) === 2)
    assert(Streaming.doorSplit(spark) === 4)
  }

  test("batch sessionize (shared fold) matches the SQL-oracled window query") {
    val viaFold = Streaming.sessionizeBatch(eventsDs)
      .select("user_id", "session_id", "n_events", "sess_start", "sess_end")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val viaWindow = graft.operators.Windows.queries("q_sessionize")(spark, sf0001)
      .select("user_id", "session_id", "n_events", "sess_start", "sess_end")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(viaFold === viaWindow)
  }

  test("streaming sessionize emits exactly the closed sessions of the batch result") {
    val q = Streaming.sessionize(eventsDs)  // bounded input: batch Dataset
    // On a bounded (non-streaming) Dataset, flatMapGroupsWithState runs in
    // batch mode: every group is fully present, open tails stay unflushed.
    val emitted = q.select("user_id", "session_id", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    val batch = Streaming.sessionizeBatch(eventsDs)
    val lastPerUser = batch.groupBy("user_id").agg(max("session_id").as("last"))
    val closed = batch.join(lastPerUser, Seq("user_id"))
      .filter(col("session_id") < col("last"))
      .select("user_id", "session_id", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(emitted === closed)
  }

  test("streaming session_window emits exactly the watermark-finalized batch sessions") {
    val sink = "stream_session_out"
    val q = Streaming.sessionWindowCounts(spark, sf0001)
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(sink)
      .select("user_id", "sess_start", "n_events")
      .as[(Long, Long, Long)].collect().toSet

    // batch truth with session end times (sess_start matches session_window
    // start: both are the first event second of the session)
    val batch = Streaming.sessionizeBatch(eventsDs)
      .select("user_id", "sess_start", "n_events", "sess_end")
      .as[(Long, Long, Long, Long)].collect()
    val batchSet = batch.map(r => (r._1, r._2, r._3)).toSet
    assert(streamed.subsetOf(batchSet),
      s"streamed sessions not in batch: ${streamed -- batchSet}")
    // append mode only holds back sessions the final watermark hasn't
    // passed: everything closed 2h(+gap) before the max event time MUST
    // have been emitted
    val maxSec = batch.map(_._4).max
    val mustEmit = batch.filter(r => r._4 + 1800 < maxSec - 7200)
      .map(r => (r._1, r._2, r._3)).toSet
    assert(mustEmit.subsetOf(streamed),
      s"finalized sessions never emitted: ${(mustEmit -- streamed).take(5)}")
    assert(streamed.nonEmpty)
  }

  test("streaming dedup-within-watermark restores exactly-once from duplicated delivery") {
    val sink = "stream_dedup_out"
    val q = Streaming.dedupedStream(spark, sf0001)
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(sink)
    val events = Tables(spark, sf0001, "events")
    assert(got.count() === events.count(), "each doubled event emitted exactly once")
    assert(got.select("event_id").distinct().count() === events.count())
  }

  test("streaming tumbling window matches batch q_time_bucket counts and sums") {
    val sink = "stream_tumbling_out"
    val q = Streaming.tumblingCounts(spark, sf0001)
      .writeStream.outputMode("update").format("memory").queryName(sink).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(sink)
      // update mode: last update wins; n grows monotonically, so the
      // struct-max picks the latest (n, sum_value) pair
      .groupBy("hour_ts", "event_type")
      .agg(max(struct(col("n"), col("sum_value"))).as("last"))
      .select(col("hour_ts"), col("event_type"),
        col("last.n").as("n"), col("last.sum_value").as("sum_value"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
      .map { case (t, e, n, sv) => ((t.getTime, e), (n, sv)) }.toMap
    val batch = graft.operators.Windows.queries("q_time_bucket")(spark, sf0001)
      .select(col("hour_ts").cast("timestamp").as("hour_ts"), col("event_type"),
        col("n"), col("sum_value"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
      .map { case (t, e, n, sv) => ((t.getTime, e), (n, sv)) }.toMap
    assert(streamed === batch)
  }

  test("durable file sink + checkpoint: stop/restart mid-stream is exactly-once vs batch") {
    // The faithful analogue of the reference's task re-issue semantics
    // (mincemeat.py:317-333): a failed/stopped job resumes from durable
    // state without losing or duplicating output. Source files arrive in
    // event-time order (so the recovered watermark never drops a late
    // file); the query is stopped after half the data, then restarted on
    // the SAME checkpoint + sink.
    val root = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val srcDir = s"$root/src"; val ckpt = s"$root/ckpt"; val outDir = s"$root/out"
    val ev = Tables(spark, sf0001, "events")
      .select("event_id", "user_id", "event_type", "ts")
    val schema = ev.schema
    val slices = ev.orderBy("ts").collect().grouped(
      math.max(1, (ev.count() / 8).toInt + 1)).toSeq
    def arrive(ss: Seq[Array[org.apache.spark.sql.Row]]): Unit = ss.foreach { rs =>
      spark.createDataFrame(spark.sparkContext.parallelize(rs.toSeq, 1), schema)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    def startQuery() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()

    arrive(slices.take(4))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    arrive(slices.drop(4))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(outDir)
    // exactly-once: no (window, type) emitted twice across the restart
    val dupKeys = out.groupBy("win_start", "event_type").count()
      .filter(col("count") > 1).count()
    assert(dupKeys === 0, "restart duplicated finalized windows")
    // correctness: every emitted row equals the batch aggregation
    val batch = ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map { case (t, e, n) => (t.getTime, e) -> n }.toMap
    val emitted = out.select("win_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect()
    emitted.foreach { case (t, e, n) =>
      assert(batch.get((t.getTime, e)).contains(n), s"window ($t, $e): stream $n vs batch ${batch.get((t.getTime, e))}")
    }
    // completeness: all windows finalized well before the last watermark
    // must have been emitted (margin of one window for the boundary)
    val maxTs = ev.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    val emittedKeys = emitted.map { case (t, e, _) => (t.getTime / 1000, e) }.toSet
    val mustEmit = batch.keys.filter { case (ms, _) => ms / 1000 + 3600 < maxTs - 7200 - 3600 }
      .map { case (ms, e) => (ms / 1000, e) }.toSet
    assert(mustEmit.subsetOf(emittedKeys),
      s"finalized windows never emitted after restart: ${(mustEmit -- emittedKeys).take(5)}")
    assert(emitted.nonEmpty)
  }

  test("Trigger.AvailableNow: each scheduled run drains exactly the new files, once") {
    // the production "incremental batch" idiom: a cron-scheduled job
    // reads whatever arrived since its checkpoint, drains it, and EXITS
    // (no always-on cluster) — at 100 TB this is how most pipelines
    // actually run streaming code. Two scheduled runs over a growing
    // directory must process every record exactly once between them.
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_avnow").toString
    val srcDir = s"$root/src"; val ckpt = s"$root/ckpt"; val outDir = s"$root/out"
    val docs = Tables(spark, sf0001, "documents").select("doc_id", "text")
    val schema = docs.schema
    def arrive(half: Int): Unit =
      docs.filter(col("doc_id") % 2 === half).coalesce(1)
        .write.mode("append").parquet(srcDir)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .select(col("doc_id"), length(col("text")).as("n_chars"))
        .writeStream.outputMode("append").format("parquet")
        .trigger(Trigger.AvailableNow())
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      assert(q.awaitTermination(120000), "AvailableNow run did not drain and exit")
    }
    arrive(0)
    runOnce()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst === docs.filter(col("doc_id") % 2 === 0).count())
    arrive(1)
    runOnce()
    val out = spark.read.parquet(outDir)
    // exactly once across the two scheduled runs: no doc duplicated, none lost
    assert(out.count() === docs.count())
    assert(out.select("doc_id").distinct().count() === docs.count())
  }

  test("q_stream_durable emits exactly the finalized batch windows, restart adds nothing") {
    val got = Streaming.queries("q_stream_durable")(spark, sf0001)
      .select(col("hour_ts").cast("timestamp"), col("event_type"), col("n"), col("sum_value"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
    // exactly-once across the in-query restart: no duplicated keys
    assert(got.map(r => (r._1, r._2)).distinct.length === got.length)
    // equals the batch tumbling agg restricted to finalized windows
    val maxSec = Tables(spark, sf0001, "events")
      .agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    val expected = graft.operators.Windows.queries("q_time_bucket")(spark, sf0001)
      .select(col("hour_ts").cast("timestamp"), col("event_type"), col("n"), col("sum_value"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
      .filter { case (t, _, _, _) => t.getTime / 1000 + 3600 <= maxSec - 7200 }
    assert(got.toSet === expected.toSet,
      s"stream-only: ${(got.toSet -- expected.toSet).take(3)}; " +
        s"batch-only: ${(expected.toSet -- got.toSet).take(3)}")
  }

  test("foreachBatch sink: batchId-keyed overwrite is idempotent under re-delivery") {
    // the custom-sink idiom for stores without native exactly-once: each
    // micro-batch lands in its own batchId-keyed location with overwrite,
    // so a retried batch replaces itself instead of duplicating
    val out = java.nio.file.Files.createTempDirectory("graft_feb").toString
    val q = Streaming.eventsStream(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.persist()
        df.write.mode("overwrite").parquet(s"$out/batch=$id")
        // simulated sink-failure retry: the redelivered batch overwrites
        // itself instead of appending duplicates
        df.write.mode("overwrite").parquet(s"$out/batch=$id")
        df.unpersist()
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val expected = Tables(spark, sf0001, "events").count()
    assert(spark.read.parquet(s"$out/batch=*").count() === expected)
  }

  test("law: the per-batch release spares caches registered before the body") {
    // a Dataset.persist() reaches getPersistentRDDs only when first
    // computed, so to an RDD-id diff alone a store persisted before a
    // door's stream and first computed in batch 0 looks like a batch
    // cache, and would lose its blocks after batch 0
    val sc = spark.sparkContext
    val pre = spark.range(0, 4000, 1, 4).toDF("id").persist()
    val before = sc.getPersistentRDDs.keySet
    var preIds = Set.empty[Int]
    var bodyIds = Set.empty[Int]
    try {
      Streaming.releasingBatchCaches(spark) {
        assert(pre.count() === 4000L) // first computation, inside the body
        preIds = sc.getPersistentRDDs.keySet.toSet -- before
        val inner = spark.range(0, 4000, 1, 4).toDF("id")
          .filter(col("id") % 3 === 0).persist()
        assert(inner.count() === 1334L)
        bodyIds = sc.getPersistentRDDs.keySet.toSet -- before -- preIds
      }
      assert(preIds.nonEmpty && bodyIds.nonEmpty)
      val live = sc.getPersistentRDDs.keySet
      assert(preIds.subsetOf(live), "a cache registered before the body was released")
      assert(sc.getRDDStorageInfo.filter(i => preIds(i.id))
        .map(_.numCachedPartitions).sum === 4, "the pre-body cache lost blocks")
      assert(bodyIds.intersect(live).isEmpty, "a cache created in the body survived")
    } finally { pre.unpersist(); spark.catalog.clearCache() }
  }

  test("q_stream_neardup_filter: survivor set is batch-split-invariant and complete") {
    // each doc's verdict depends only on itself vs the base store, so the
    // 4-micro-batch streaming run must equal a single-batch run of the
    // same filter — the law that makes the append sink exactly-once
    val base = graft.operators.Dedup.ensureBaseSignatureStore(spark, sf0001)
    val delta = Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val oneShot = graft.operators.Dedup.withNearDupSurvivors(delta, base) {
      _.as[Long].collect().toSet
    }
    val streamed = Streaming.queries("q_stream_neardup_filter")(spark, sf0001)
      .as[Long].collect().toSet
    assert(streamed === oneShot)
    // sanity on the direction: survivors are a subset of the delta, and
    // nothing sub-3-token was dropped
    val deltaIds = delta.select("doc_id").as[Long].collect().toSet
    assert(streamed.subsetOf(deltaIds))
    val tiny = Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 2 === 1 &&
        size(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")) < 3)
      .select("doc_id").as[Long].collect().toSet
    assert(tiny.subsetOf(streamed))
  }

  test("q_stream_neardup_grow: door equals the sequential batch fold, and growth bites") {
    // the grow door's semantics ARE the sequential fold: batch k dedups
    // against base ∪ survivors of batches < k. Replaying that fold in
    // batch mode (same survivorsFromGrams, same store-growth rule) must
    // reproduce the door's kept set exactly — and the grown store must
    // drop MORE than the frozen-base door (the fixture carries odd-odd
    // near-dup pairs across arrival groups), which is the semantic
    // difference store maintenance buys.
    val D = graft.operators.Dedup
    val base = D.ensureBaseSignatureStore(spark, sf0001)
    val delta = Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    var grow = base
    var fold = Set.empty[Long]
    for (k <- Seq(1L, 3L, 5L, 7L)) {
      val g = delta.filter(col("doc_id") % 8 === k)
      val withG = D.batchGrams(g)
        .withColumn("sig", call_function("minhash64", col("grams")))
        .persist()
      val kept = D.survivorsFromGrams(g.select("doc_id"), withG, grow, 0.7)
        .persist()
      fold ++= kept.as[Long].collect()
      grow = grow.unionByName(
        withG.join(kept, Seq("doc_id")).select("doc_id", "grams", "sig")
          .persist())
    }
    val streamed = Streaming.queries("q_stream_neardup_grow")(spark, sf0001)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed === fold,
      s"missing=${(fold -- streamed).take(5)} extra=${(streamed -- fold).take(5)}")
    val frozen = Streaming.queries("q_stream_neardup_filter")(spark, sf0001)
      .as[Long].collect().toSet
    assert(streamed.subsetOf(frozen),
      "growth can only drop MORE than the frozen-base door")
    assert(streamed.size < frozen.size,
      "growth dropped nothing — the cross-group near-dup fixture pairs went unseen")
  }

  test("q_stream_neardup_grow: a near-dup arriving in a LATER batch is dropped (planted)") {
    // the law the frozen door cannot satisfy: two near-identical NEW
    // documents in different micro-batches — the earlier survives (novel
    // vs base), the later must be dropped because the earlier's
    // signature joined the store between the batches. A third, novel doc
    // in the later batch still survives (growth never over-drops).
    import spark.implicits._
    val D = graft.operators.Dedup
    val baseDocs = Seq((0L,
      "completely unrelated base corpus sentence about maritime insurance " +
        "regulations and their enforcement across jurisdictions"))
      .toDF("doc_id", "text")
    val baseSig = D.batchGrams(baseDocs)
      .withColumn("sig", call_function("minhash64", col("grams")))
      .select("doc_id", "grams", "sig")
    val a = "the quick brown fox jumps over the lazy dog near the quiet river " +
      "bank while the morning sun rises slowly over the distant green hills today"
    val a2 = a.replace("today", "tonight") // one gram of ~26 differs: J ≈ 0.96
    val novel = "a wholly different novel document mentioning quantum " +
      "chromodynamics lattice simulations and nothing else in common at all"
    val g0 = Seq((1L, a)).toDF("doc_id", "text")
    val g1 = Seq((3L, a2), (5L, novel)).toDF("doc_id", "text")
    val kept = Streaming.nearDupGrowDoor(spark, Seq(g0, g1), baseSig)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 5L),
      s"expected the later near-dup (3) dropped and 1,5 kept; got $kept")
    // the frozen-base door keeps ALL THREE — growth is the only thing
    // that catches the intra-stream pair
    val frozen = D.withNearDupSurvivors(
      g0.unionByName(g1), baseSig) { _.as[Long].collect().toSet }
    assert(frozen === Set(1L, 3L, 5L))
  }

  test("q_stream_neardup_grow: drained grow store equals a from-scratch rebuild") {
    // idempotence/exactly-once receipt: after the stream drains, the
    // appended store rows must be exactly the fresh (grams, sig) rows of
    // the kept delta docs that HAVE grams — nothing doubled (replay-safe
    // overwrite keys), nothing missing, values bit-identical
    val D = graft.operators.Dedup
    val base = D.ensureBaseSignatureStore(spark, sf0001)
    val delta = Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val groups = Seq(1L, 3L, 5L, 7L).map(k => delta.filter(col("doc_id") % 8 === k))
    val root = java.nio.file.Files
      .createTempDirectory("graft_growlaw").toString
    val kept = Streaming.nearDupGrowDoor(spark, groups, base, rootDir = root)
      .select("doc_id").as[Long].collect().toSet
    val stored = spark.read.parquet(s"$root/grow/batch_b*")
    val fresh = D.batchGrams(delta.filter(col("doc_id").isin(kept.toSeq: _*)))
      .withColumn("sig", call_function("minhash64", col("grams")))
    assert(stored.count() === fresh.count(), "grow store row count diverged")
    assert(stored.join(fresh.select(col("doc_id"),
        col("grams").as("fg"), col("sig").as("fs")), "doc_id")
      .filter(col("grams") =!= col("fg") || col("sig") =!= col("fs"))
      .count() === 0L, "grow store rows diverged from a fresh derivation")
  }

  test("law: compacted grow store equals the drained store, probes unchanged") {
    // round-13 verdict task 3: the compaction rule folds the
    // batchId-keyed dirs into one with content identical — proven on the
    // SPAN grow door, the one door whose COUNT semantics (not just
    // membership) would expose any duplication or loss introduced by the
    // rewrite.
    val T = graft.operators.Text
    val base = T.ensureSpanStore(spark, sf0001)
    val delta = Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val groups = Seq(1L, 3L, 5L, 7L).map(k => delta.filter(col("doc_id") % 8 === k))
    val root = java.nio.file.Files
      .createTempDirectory("graft_compactlaw").toString
    Streaming.spanGrowDoor(spark, groups, base, rootDir = root).count()
    val before = spark.read.parquet(s"$root/grow/batch_b*")
      .as[String].collect().sorted.toSeq
    assert(before.nonEmpty, "vacuous: the drained grow store is empty")
    assert(before.distinct.size === before.size,
      "precondition broken: grow dirs must be pairwise disjoint")
    // a COUNT-semantics probe before/after (the door's own profile shape)
    val probe = delta.filter(col("doc_id") % 8 === 7)
    def profileRows(): Set[Seq[Any]] =
      T.spanProfileAgainst(probe,
          base.unionByName(spark.read.parquet(s"$root/grow/batch_b*")))
        .collect().map(_.toSeq).toSet
    val probeBefore = profileRows()
    val folded = Streaming.compactGrowStore(spark, root)
    assert(folded >= 2, s"expected >= 2 dirs folded, got $folded")
    val after = spark.read.parquet(s"$root/grow/batch_b*")
      .as[String].collect().sorted.toSeq
    assert(after === before, "compaction changed the store content")
    assert(Streaming.committedGrowDirs(root, 100L).size === 1,
      "compaction must leave exactly one committed dir")
    assert(profileRows() === probeBefore, "compaction changed probe results")
    // idempotent: a second run is a no-op
    assert(Streaming.compactGrowStore(spark, root) === 0)
  }

  test("law: interrupted compaction fails doors loud and resumes losslessly") {
    // round-14 review: the first compaction cut deleted every grow dir
    // BEFORE renaming the tmp union, so a crash in between silently lost
    // the whole store. The two-phase protocol (tmp → marker → swap →
    // unmark) must (a) make committedGrowDirs REFUSE a half-swapped
    // store and (b) let a re-run of compactGrowStore complete the fold
    // bit-identically from the tmp.
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_compactcrash").toString
    val parts = Seq(Seq("a1", "a2"), Seq("b1"), Seq("c1", "c2", "c3"))
    parts.zipWithIndex.foreach { case (gs, i) =>
      gs.toDF("gh").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/grow/batch_b$i")
    }
    val union = parts.flatten.sorted
    // simulate the crash window: phase 1 complete (tmp written, marker
    // committed), phase 2 not started (no dir deleted, no rename)
    spark.read.parquet(s"$root/grow/batch_b*").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/grow/.compact_tmp")
    val marker = new java.io.File(s"$root/grow/_compact_pending")
    assert(marker.createNewFile())
    // (a) doors must fail loud, not read the half-swapped layout
    intercept[IllegalArgumentException] {
      Streaming.committedGrowDirs(root, 100L)
    }
    // (b) a re-run completes the fold: marker cleared, one dir, content
    // exactly the pre-crash union
    assert(Streaming.compactGrowStore(spark, root) === 1)
    assert(!marker.exists(), "resume must clear the pending marker")
    assert(Streaming.committedGrowDirs(root, 100L) ===
      Seq(s"$root/grow/batch_b0"))
    assert(spark.read.parquet(s"$root/grow/batch_b*")
      .as[String].collect().sorted.toSeq === union)
    // second crash window: rename done, marker left behind — recovery
    // just clears it without touching the store
    assert(marker.createNewFile())
    assert(Streaming.compactGrowStore(spark, root) === 1)
    assert(!marker.exists())
    assert(spark.read.parquet(s"$root/grow/batch_b*")
      .as[String].collect().sorted.toSeq === union)
  }

  test("law: compaction resume is exact under a bound that excludes the fold") {
    // round-14 ADVICE hardened: the pending marker RECORDS the folded
    // dir names, so a resume deletes exactly the tmp's inputs no matter
    // what bound the resuming caller holds. The killing scenario is a
    // fresh stream restarting at batch 0 on a crashed root: it resumes
    // with maxBatchExclusive == 0, under which (a) the old code's
    // bound-filtered delete removed NOTHING, so the stale batch_b0
    // failed the rename require with no self-healing path, and (b) the
    // naive "just drop the target" fix would leave b1/b2 alive beside
    // the renamed union that already contains them — a silent
    // double-count. A dir written AFTER the marker (a replayed batch's
    // own pre-crash output) must survive untouched.
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_compactresume").toString
    val parts = Seq(Seq("a1", "a2"), Seq("b1"), Seq("c1", "c2"))
    parts.zipWithIndex.foreach { case (gs, i) =>
      gs.toDF("gh").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/grow/batch_b$i")
    }
    // crash window: tmp complete, marker committed WITH the manifest,
    // phase 2 not started
    spark.read.parquet(s"$root/grow/batch_b*").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/grow/.compact_tmp")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/grow/_compact_pending"),
      "batch_b0\nbatch_b1\nbatch_b2\n".getBytes("UTF-8"))
    // a post-marker arrival: the replayed current batch's pre-crash dir
    Seq("d1").toDF("gh").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/grow/batch_b3")
    assert(Streaming.compactGrowStore(spark, root,
      maxBatchExclusive = 0L) === 1)
    assert(!new java.io.File(s"$root/grow/_compact_pending").exists())
    assert(Streaming.committedGrowDirs(root, 100L) ===
      Seq(s"$root/grow/batch_b0", s"$root/grow/batch_b3"))
    // the union appears EXACTLY once; the post-marker dir is untouched
    assert(spark.read.parquet(s"$root/grow/batch_b0")
      .as[String].collect().sorted.toSeq === parts.flatten.sorted)
    assert(spark.read.parquet(s"$root/grow/batch_b3")
      .as[String].collect().toSeq === Seq("d1"))
    // LEGACY empty marker (pre-manifest protocol) + a bound that
    // excludes committed dirs: the fold set cannot be reconstructed,
    // so the resume must fail LOUD — completing with a partial delete
    // set would leave folded rows alive beside the renamed union
    // (round-15 review: the first fallback cut silently double-counted
    // here)
    val root2 = java.nio.file.Files
      .createTempDirectory("graft_compactlegacy").toString
    Seq(Seq("a"), Seq("b")).zipWithIndex.foreach { case (gs, i) =>
      gs.toDF("gh").coalesce(1)
        .write.mode("overwrite").parquet(s"$root2/grow/batch_b$i")
    }
    spark.read.parquet(s"$root2/grow/batch_b*").coalesce(1)
      .write.mode("overwrite").parquet(s"$root2/grow/.compact_tmp")
    assert(new java.io.File(s"$root2/grow/_compact_pending").createNewFile())
    intercept[IllegalArgumentException] {
      Streaming.compactGrowStore(spark, root2, maxBatchExclusive = 0L)
    }
    // with the full bound the same legacy marker resumes fine
    assert(Streaming.compactGrowStore(spark, root2) === 1)
    assert(spark.read.parquet(s"$root2/grow/batch_b*")
      .as[String].collect().sorted.toSeq === Seq("a", "b"))
  }

  test("law: promotion folds each door's grow store into its base bit-identically") {
    // round-14 verdict task 1: promoteGrowStore completes the grow-store
    // lifecycle — compaction bounds the LAYOUT, promotion folds the
    // learned rows INTO the frozen base artifact between streams, leaving
    // the grow dir empty. Contract, proven on ALL FOUR doors: promoted
    // base == old base ∪ grow as a MULTISET (bit-identity), grow empty
    // after, idempotent no-op on an empty grow. For the span door —
    // whose COUNT semantics would expose any duplication or loss — the
    // probe result against the promoted base must equal the probe
    // against base ∪ grow.
    val T = graft.operators.Text
    val D = graft.operators.Dedup
    val M = graft.operators.Multimodal
    val delta = Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val groups4 = Seq(1L, 3L, 5L, 7L)
      .map(k => delta.filter(col("doc_id") % 8 === k))
    val doors: Seq[(String, String, String => Unit)] = Seq(
      ("span", "span_base_v1", root => {
        Streaming.spanGrowDoor(spark, groups4,
          T.ensureSpanStore(spark, sf0001), rootDir = root).count(); ()
      }),
      ("neardup", "minhash_base_v1", root => {
        Streaming.nearDupGrowDoor(spark, groups4,
          D.ensureBaseSignatureStore(spark, sf0001), rootDir = root)
          .count(); ()
      }),
      ("fp", "pretrain_fp_v1", root => {
        Streaming.exactDupGrowDoor(spark,
          Seq(T.pretrainDeltaDocs(spark, sf0001)),
          T.ensurePretrainFpStore(spark, sf0001), rootDir = root)
          .count(); ()
      }),
      ("media", "media_sig_v1", root => {
        Streaming.mediaGrowDoor(spark, Seq(M.mediaArrivals(spark, sf0001)),
          M.ensureMediaSigStore(spark, sf0001), rootDir = root).count(); ()
      }))
    for ((name, tag, runDoor) <- doors) {
      val origPath = graft.operators.Sources.fixturePath(sf0001, tag)
      val baseCopy = java.nio.file.Files
        .createTempDirectory(s"graft_promobase_$name").toString + "/store"
      spark.read.parquet(origPath).write.parquet(baseCopy)
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_promo_$name").toString
      runDoor(root)
      val cols = spark.read.parquet(baseCopy).columns.sorted.toSeq
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      val baseBefore = rows(spark.read.parquet(baseCopy))
      val growDirs = Streaming.committedGrowDirs(root, Long.MaxValue)
      assert(growDirs.nonEmpty, s"$name: vacuous — no grow dir committed")
      val growBefore = rows(spark.read.parquet(growDirs: _*))
      assert(growBefore.nonEmpty, s"$name: vacuous — empty grow store")
      // span: capture the count-semantics probe BEFORE the fold
      val probe = delta.filter(col("doc_id") % 8 === 7)
      val probeBefore = if (name != "span") Seq.empty[String] else
        T.spanProfileAgainst(probe, spark.read.parquet(baseCopy)
            .unionByName(spark.read.parquet(growDirs: _*)))
          .collect().map(_.toString).sorted.toSeq
      assert(Streaming.promoteGrowStore(spark, root, baseCopy)
        === growDirs.size, s"$name: folded-dir count diverged")
      assert(Streaming.committedGrowDirs(root, Long.MaxValue).isEmpty,
        s"$name: promotion must leave the grow store empty")
      val baseAfter = rows(spark.read.parquet(baseCopy))
      assert(baseAfter === (baseBefore ++ growBefore).sorted,
        s"$name: promoted base is not old base ∪ grow")
      if (name == "span") {
        val probeAfter = T.spanProfileAgainst(probe,
            spark.read.parquet(baseCopy))
          .collect().map(_.toString).sorted.toSeq
        assert(probeAfter === probeBefore,
          "span: probe against promoted base diverged from base ∪ grow")
      }
      assert(Streaming.promoteGrowStore(spark, root, baseCopy) === 0,
        s"$name: promotion of an empty grow store must be a no-op")
    }
  }

  test("law: interrupted promotion fails doors loud and resumes exactly") {
    // the two crash windows of promoteGrowStore's two-phase protocol:
    // BEFORE the marker (orphan tmp — base and grow untouched, the next
    // run overwrites it and completes a full exact promotion) and AFTER
    // the marker at any point (doors fail loud; re-running replays the
    // atomic manifest idempotently — dest-exists moves skip, so a
    // half-moved state resumes with NO duplication).
    import spark.implicits._
    def freshRoot(): (String, String) = {
      val root = java.nio.file.Files
        .createTempDirectory("graft_promocrash").toString
      Seq(Seq("g1", "g2"), Seq("g3"), Seq("g4", "g5"))
        .zipWithIndex.foreach { case (gs, i) =>
          gs.toDF("gh").coalesce(1)
            .write.mode("overwrite").parquet(s"$root/grow/batch_b$i")
        }
      val baseCopy = java.nio.file.Files
        .createTempDirectory("graft_promocrashbase").toString + "/store"
      Seq("b1", "b2").toDF("gh").coalesce(1)
        .write.mode("overwrite").parquet(baseCopy)
      (root, baseCopy)
    }
    val expect = Seq("b1", "b2", "g1", "g2", "g3", "g4", "g5")
    def baseRows(p: String): Seq[String] =
      spark.read.parquet(p).as[String].collect().sorted.toSeq
    // window 1: orphan tmp from a pre-marker crash, WRONG content — the
    // next run must overwrite it, never fold it
    val (root1, base1) = freshRoot()
    Seq("stale1", "stale2").toDF("gh").coalesce(1)
      .write.mode("overwrite").parquet(s"$root1/grow/.promote_tmp")
    assert(Streaming.promoteGrowStore(spark, root1, base1) === 3)
    assert(baseRows(base1) === expect)
    assert(Streaming.committedGrowDirs(root1, Long.MaxValue).isEmpty)
    // window 2: marker committed, phase 2 not started
    val (root2, base2) = freshRoot()
    spark.read.parquet(s"$root2/grow/batch_b*").coalesce(1)
      .write.mode("overwrite").parquet(s"$root2/grow/.promote_tmp")
    val part2 = new java.io.File(s"$root2/grow/.promote_tmp").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head.getName
    val manifest2 = s"file\t$part2\tpromoted_crashlaw_$part2\n" +
      "dir\tbatch_b0\ndir\tbatch_b1\ndir\tbatch_b2\n"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root2/grow/_promote_pending"),
      manifest2.getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      Streaming.committedGrowDirs(root2, 100L)
    }
    assert(Streaming.promoteGrowStore(spark, root2, base2) === 1)
    assert(baseRows(base2) === expect)
    assert(!new java.io.File(s"$root2/grow/_promote_pending").exists())
    assert(!new java.io.File(s"$root2/grow/.promote_tmp").exists())
    assert(Streaming.committedGrowDirs(root2, Long.MaxValue).isEmpty)
    // window 3: marker committed AND the move already executed (crash
    // between the move and the dir drops) — the resume must not fold
    // the still-present grow dirs a second time
    val (root3, base3) = freshRoot()
    spark.read.parquet(s"$root3/grow/batch_b*").coalesce(1)
      .write.mode("overwrite").parquet(s"$root3/grow/.promote_tmp")
    val part3 = new java.io.File(s"$root3/grow/.promote_tmp").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head.getName
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root3/grow/_promote_pending"),
      (s"file\t$part3\tpromoted_crashlaw_$part3\n" +
        "dir\tbatch_b0\ndir\tbatch_b1\ndir\tbatch_b2\n").getBytes("UTF-8"))
    assert(new java.io.File(s"$root3/grow/.promote_tmp/$part3")
      .renameTo(new java.io.File(s"$base3/promoted_crashlaw_$part3")))
    assert(Streaming.promoteGrowStore(spark, root3, base3) === 1)
    assert(baseRows(base3) === expect,
      "half-moved resume duplicated or lost rows")
    assert(Streaming.committedGrowDirs(root3, Long.MaxValue).isEmpty)
  }

  test("law: mid-stream auto-compaction preserves the sequential fold exactly") {
    // §7.9 candidate landed: compactEvery fires the compaction at batch
    // START (only dirs of strictly-earlier batches fold — the
    // replay-safe window), so the span door — the COUNT-semantics door,
    // where any duplication or loss shows up as a wrong profile number —
    // must produce bit-identical output with and without the cadence,
    // while the cadenced run's grow layout actually stays compact.
    val T = graft.operators.Text
    val base = T.ensureSpanStore(spark, sf0001)
    val delta = Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val groups = Seq(1L, 3L, 5L, 7L).map(k => delta.filter(col("doc_id") % 8 === k))
    val rootA = java.nio.file.Files
      .createTempDirectory("graft_cadenceA").toString
    val rootB = java.nio.file.Files
      .createTempDirectory("graft_cadenceB").toString
    val plain = Streaming.spanGrowDoor(spark, groups, base, rootDir = rootA)
      .collect().map(_.toSeq).toSet
    val cadenced = Streaming.spanGrowDoor(spark, groups, base,
        rootDir = rootB, compactEvery = 2)
      .collect().map(_.toSeq).toSet
    assert(cadenced === plain, "cadence changed the sequential fold")
    // the cadence fired: batch 2 folded {b0, b1} → b0 before reading,
    // so the final layout is {b0(=b0∪b1∪b2-fold state), b3} ∪ whatever
    // batch 2 appended — deterministically {b0, b2, b3} here (batch 3's
    // id 3 % 2 == 1 never fires). Without the cadence: 4 dirs.
    def dirs(root: String): Set[String] =
      Option(new java.io.File(s"$root/grow").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("batch_b"))
        .map(_.getName).toSet
    assert(dirs(rootA).size === 4, s"plain run layout drifted: ${dirs(rootA)}")
    assert(dirs(rootB) === Set("batch_b0", "batch_b2", "batch_b3"),
      s"cadenced layout: ${dirs(rootB)}")
    // and the two stores hold the SAME span multiset
    import spark.implicits._
    val a = spark.read.parquet(s"$rootA/grow/batch_b*")
      .as[String].collect().sorted.toSeq
    val b = spark.read.parquet(s"$rootB/grow/batch_b*")
      .as[String].collect().sorted.toSeq
    assert(a === b, "cadenced grow store content diverged")
  }

  test("law: a bounded compaction never touches the current batch's own dir") {
    // the replay hazard the bound exists for (round-14 review): batch
    // K's grow dir can already exist — written by an uncommitted
    // pre-crash run of K — when the replayed K fires its batch-start
    // compaction. compactGrowStore(maxBatchExclusive = K) must fold and
    // delete ONLY dirs < K, leaving batch_bK exactly as it was, so the
    // replay reads a store without its own contribution.
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_boundlaw").toString
    val parts = Seq(Seq("a1", "a2"), Seq("b1"), Seq("k1", "k2"))
    parts.zipWithIndex.foreach { case (gs, i) =>
      gs.toDF("gh").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/grow/batch_b$i")
    }
    assert(Streaming.compactGrowStore(spark, root,
      maxBatchExclusive = 2L) === 2)
    // layout: {b0 = fold of old b0∪b1, b2 untouched}
    assert(Streaming.committedGrowDirs(root, 2L) ===
      Seq(s"$root/grow/batch_b0"))
    assert(spark.read.parquet(s"$root/grow/batch_b0")
      .as[String].collect().sorted.toSeq === Seq("a1", "a2", "b1"))
    assert(spark.read.parquet(s"$root/grow/batch_b2")
      .as[String].collect().sorted.toSeq === Seq("k1", "k2"),
      "the bound was violated: the current batch's dir changed")
    // and the store the replayed batch READS (dirs < 2) holds exactly
    // the pre-compaction union of batches 0..1 — its own rows absent
    assert(spark.read
      .parquet(Streaming.committedGrowDirs(root, 2L): _*)
      .as[String].collect().sorted.toSeq === Seq("a1", "a2", "b1"))
  }

  test("law: bloomPruneSpans is result-transparent for profile and anti-join") {
    // no false negatives => pruning the store side changes neither the
    // left-join match counts nor the not-yet-seen anti-join; verified
    // against a store vastly larger than the batch (the door regime)
    val T = graft.operators.Text
    val docs = Tables(spark, sf0001, "documents")
    val batch = docs.filter(col("doc_id") % 8 === 3).select("doc_id", "text")
    val store = T.spanHashes(docs.filter(col("doc_id") % 2 === 0))
      .select("gh").distinct()
    val arrival = T.spanHashes(batch).persist()
    try {
      val pruned = T.bloomPruneSpans(arrival, store).persist()
      val full = T.spanProfileOfSpans(arrival, store)
        .collect().map(_.toSeq).toSet
      val viaPruned = T.spanProfileOfSpans(arrival, pruned)
        .collect().map(_.toSeq).toSet
      assert(viaPruned === full)
      val antiFull = arrival.select("gh").distinct()
        .join(store, Seq("gh"), "left_anti").as[String].collect().toSet
      val antiPruned = arrival.select("gh").distinct()
        .join(pruned, Seq("gh"), "left_anti").as[String].collect().toSet
      assert(antiPruned === antiFull)
      // and the prune actually bites: the store is bigger than the probe
      val nStore = store.count(); val nPruned = pruned.count()
      assert(nPruned < nStore,
        s"prune kept everything ($nPruned of $nStore) — bloom inert?")
      pruned.unpersist(); ()
    } finally { arrival.unpersist(); () }
  }

  test("q_stream_media_grow: re-submitted survivor payloads are dropped only by growth") {
    // batch 1 re-submits batch 0's survivor payloads byte-identically
    // under +2e9 ids: nothing in the BASE catalog matches them, so the
    // frozen door's rule (vs base only) keeps them — the growing door
    // must drop every one while still landing batch 1's fresh assets
    // and batch 0's survivors untouched
    val kept = Streaming.queries("q_stream_media_grow")(spark, sf0001)
      .select("doc_id").as[Long].collect().toSet
    val ids = Tables(spark, sf0001, "documents")
      .select("doc_id").as[Long].collect().toSet
    val survivors0 = ids.filter(_ % 10 == 5).map(_ + 1000000000L)
    val resubs = ids.filter(_ % 10 == 5).map(_ + 2000000000L)
    val fresh = ids.filter(_ % 10 == 7).map(_ + 2000000000L)
    assert(resubs.nonEmpty && fresh.nonEmpty)
    assert((kept & resubs).isEmpty,
      s"re-submitted survivors landed: ${(kept & resubs).take(5)}")
    assert(survivors0.subsetOf(kept), "batch-0 survivors over-dropped")
    assert(fresh.subsetOf(kept), "fresh batch-1 assets over-dropped")
    assert(kept === survivors0 ++ fresh, "unexpected extra rows")
  }

  test("q_stream_span_grow: dup counts dominate the frozen profile and growth bites") {
    // the grown store can only ADD dup sources (base ⊆ base ∪ earlier
    // arrivals), so per-doc: n_spans identical to the frozen door,
    // n_dup_spans >= the frozen count — and strictly greater somewhere
    // (the fixture's cross-group duplicated text), which is the
    // cross-batch visibility the frozen door lacks
    val grown = Streaming.queries("q_stream_span_grow")(spark, sf0001)
      .select("doc_id", "n_spans", "n_dup_spans")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val frozen = Streaming.queries("q_stream_span_dedup")(spark, sf0001)
      .select("doc_id", "n_spans", "n_base_dup_spans")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(grown.keySet === frozen.keySet, "profiled doc sets diverged")
    for ((id, (ns, nd)) <- grown) {
      assert(ns === frozen(id)._1, s"doc $id: n_spans diverged")
      assert(nd >= frozen(id)._2, s"doc $id: grown dup count below frozen")
    }
    assert(grown.exists { case (id, (_, nd)) => nd > frozen(id)._2 },
      "growth dropped nothing — no cross-batch duplicated span was seen")
  }

  test("q_stream_exactdup_grow: verbatim re-submissions of kept arrivals are dropped") {
    // batch 1 re-submits batch 0's kept " graftdelta" docs verbatim
    // under +7e6 ids: their fps are NOWHERE in the base store (the
    // suffix makes them new content), so only the grown store can drop
    // them — and must, every one; fresh " graftfresh" battery-kept docs
    // still land
    val kept = Streaming.queries("q_stream_exactdup_grow")(spark, sf0001)
      .select("doc_id").as[Long].collect().toSet
    val kept0 = kept.filter(id => id >= 6000000L && id < 7000000L)
    val resubs = kept.filter(id => id >= 7000000L && id < 8000000L)
    val fresh = kept.filter(_ >= 8000000L)
    assert(kept0.nonEmpty, "no batch-0 graftdelta doc survived — vacuous")
    assert(fresh.nonEmpty, "no fresh batch-1 doc survived — over-dropping")
    assert(resubs.isEmpty,
      s"verbatim re-submissions landed despite growth: ${resubs.take(5)}")
    // the re-submissions' fps are genuinely absent from the base store —
    // i.e. the frozen-fp rule alone would have kept them
    val T = graft.operators.Text
    val doc = Tables(spark, sf0001, "documents")
      .select("doc_id", "text", "source", "lang")
    val resubDocs = doc.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 7000000L).as("doc_id"),
        concat(col("text"), lit(" graftdelta")).as("text"),
        col("source"), col("lang"))
    val frozenKept = T.batteryKeptDocs(resubDocs).select("doc_id", "fp")
      .join(T.ensurePretrainFpStore(spark, sf0001), Seq("fp"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(frozenKept.nonEmpty && (frozenKept & kept).isEmpty,
      "the frozen rule should keep the re-submissions the grown store drops")
  }

  test("q_stream_span_dedup: per-doc span profiles are batch-split-invariant") {
    // each doc's profile depends only on its own spans vs the base span
    // store, so the 4-micro-batch ingest must be row-identical to the
    // one-shot batch twin (q_span_dedup_cross)
    val streamed = Streaming.queries("q_stream_span_dedup")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val oneShot = graft.operators.Text.queries("q_span_dedup_cross")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(streamed === oneShot)
    assert(streamed.nonEmpty)
  }

  test("q_stream_quality: kept set is batch-split-invariant and all kept") {
    // the battery is a stateless per-doc map, so the 4-micro-batch
    // ingest must equal a one-shot batch run over the delta half
    val streamed = Streaming.queries("q_stream_quality")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val oneShot = graft.operators.Text.gopherProfile(
      Tables(spark, sf0001, "documents").filter(col("doc_id") % 2 === 1))
      .filter(col("verdict") === "kept")
      .collect().map(_.toSeq).toSet
    assert(streamed === oneShot)
    assert(streamed.nonEmpty, "fixture kept nothing at ingest")
    assert(streamed.forall(_.last == "kept"))
  }

  test("q_stream_repetition: flagged set is batch-split-invariant and truly flagged") {
    // the 13-signal battery is a stateless per-doc map, so the
    // micro-batch ingest must equal the one-shot batch rules over the
    // delta half, restricted to non-kept verdicts
    val streamed = Streaming.queries("q_stream_repetition")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val oneShot = graft.operators.Text.repetitionRules(
      Tables(spark, sf0001, "documents").filter(col("doc_id") % 2 === 1))
      .filter(col("verdict") =!= "kept")
      .select("doc_id", "verdict")
      .collect().map(_.toSeq).toSet
    assert(streamed === oneShot)
    assert(streamed.nonEmpty, "no repetitive doc at the door — vacuous gate")
    assert(streamed.forall(_.last != "kept"))
  }

  test("q_stream_decontaminate: kept set is batch-split-invariant and truly clean") {
    // each doc's verdict depends only on its own 4-grams vs the one-time
    // benchmark gram store, so the 4-micro-batch ingest must equal the
    // one-shot batch profile restricted to uncontaminated docs
    val streamed = Streaming.queries("q_stream_decontaminate")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val batchProfile = graft.operators.Text.queries("q_decontaminate")(spark, sf0001)
    val oneShot = batchProfile
      .filter(!col("contaminated"))
      .select("doc_id", "n_grams")
      .collect().map(_.toSeq).toSet
    assert(streamed === oneShot)
    assert(streamed.nonEmpty, "fixture kept nothing at the door")
    // non-vacuity: the gate bites — some doc IS contaminated and dropped
    assert(batchProfile.filter(col("contaminated")).count() > 0,
      "no contaminated doc in the fixture — vacuous gate")
  }

  test("q_stream_lang_filter: kept set is batch-split-invariant and routed correctly") {
    // each doc's verdict depends only on its own trigram ranks vs the
    // frozen langprof_v1 store, so the micro-batch ingest must equal
    // the one-shot batch classifier filtered to the accept set
    val streamed = Streaming.queries("q_stream_lang_filter")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val L = graft.operators.LangId
    val preds = L.predictionsOf(L.classify(
      Tables(spark, sf0001, "documents"),
      L.ensureProfileStore(spark, sf0001)))
      .persist()
    try {
      val oneShot = preds.filter(col("predicted").isin("en", "fr"))
        .collect().map(_.toSeq).toSet
      assert(streamed === oneShot)
      assert(streamed.nonEmpty, "door kept nothing — vacuous gate")
      // non-vacuity: the gate bites — some doc routes OUTSIDE the accept
      // set and is dropped at the door
      assert(preds.filter(!col("predicted").isin("en", "fr")).count() > 0,
        "no doc routed away — vacuous gate")
    } finally { preds.unpersist(); () }
  }

  test("langFilterDoor: planted disjoint-vocabulary arrivals route exactly") {
    // the fixture's five langs share one vocabulary, so door semantics
    // (not just split-invariance) need a planted corpus: two languages
    // with disjoint character distributions, profiles trained on 4 docs
    // each, 6 held-out arrivals streamed through the door with only
    // 'aa' accepted — exactly the 3 aa-arrivals must land, with their
    // predictions
    import spark.implicits._
    def doc(words: Seq[String], n: Int): String =
      (0 until n).map(i => words(i % words.size)).mkString(" ")
    val aa = Seq("abba", "bacca", "cabad", "dacab", "badea", "eacbd")
    val mm = Seq("mnomp", "nompq", "opqmn", "pqmno", "qmnop", "mpqon")
    val train = (for {
      (ws, lang) <- Seq(aa -> "aa", mm -> "mm")
      i <- 0 until 4
    } yield (doc(ws.drop(i % 2), 40 + i), lang))
      .zipWithIndex.map { case ((t, l), id) => (id.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
    val arrivals = Seq(
      (100L, doc(aa.reverse, 37)), (101L, doc(aa.tail, 43)),
      (102L, doc(aa, 29)),
      (200L, doc(mm.reverse, 37)), (201L, doc(mm.tail, 43)),
      (202L, doc(mm, 29)))
      .toDF("doc_id", "text")
    val keptDf = Streaming.langFilterDoor(spark, arrivals,
      graft.operators.LangId.trainProfiles(train), Seq("aa"))
    val kept = keptDf.as[(Long, String)].collect().toSet
    assert(kept === Set((100L, "aa"), (101L, "aa"), (102L, "aa")))
    // an accept set no arrival wins lands only row-less batch dirs: the
    // door returns a schema-correct empty frame, not a read failure
    val none = Streaming.langFilterDoor(spark, arrivals,
      graft.operators.LangId.trainProfiles(train), Seq("zz"))
    assert(none.schema.fieldNames.toSeq === keptDf.schema.fieldNames.toSeq)
    assert(none.isEmpty)
  }

  test("langRouteDoor: planted two-language arrivals fan out exactly; empty partitions are schema-safe") {
    // round-14 verdict task 4: the fan-out router must land every
    // arrival in exactly its own language's partition sink — proven on
    // the same disjoint-vocabulary planted corpus as the filter door,
    // with a THIRD trained language ('zz') that never wins: it must
    // contribute zero rows without breaking the read (the
    // empty-partition schema guard).
    import spark.implicits._
    def doc(words: Seq[String], n: Int): String =
      (0 until n).map(i => words(i % words.size)).mkString(" ")
    val aa = Seq("abba", "bacca", "cabad", "dacab", "badea", "eacbd")
    val mm = Seq("mnomp", "nompq", "opqmn", "pqmno", "qmnop", "mpqon")
    val zz = Seq("zxyzw", "xyzwv", "yzwvx", "zwvxy", "wvxyz", "vzxwy")
    val train = (for {
      (ws, lang) <- Seq(aa -> "aa", mm -> "mm", zz -> "zz")
      i <- 0 until 4
    } yield (doc(ws.drop(i % 2), 40 + i), lang))
      .zipWithIndex.map { case ((t, l), id) => (id.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
    val arrivals = Seq(
      (100L, doc(aa.reverse, 37)), (101L, doc(aa.tail, 43)),
      (102L, doc(aa, 29)),
      (200L, doc(mm.reverse, 37)), (201L, doc(mm.tail, 43)),
      (202L, doc(mm, 29)))
      .toDF("doc_id", "text")
    val routed = Streaming.langRouteDoor(spark, arrivals,
      graft.operators.LangId.trainProfiles(train))
      .as[(Long, String)].collect().toSet
    // every arrival routes, each to its own vocabulary's language; the
    // zz partition exists in the store's domain but receives nothing
    assert(routed === Set(
      (100L, "aa"), (101L, "aa"), (102L, "aa"),
      (200L, "mm"), (201L, "mm"), (202L, "mm")))
    assert(!routed.exists(_._2 == "zz"),
      "a doc routed to the never-winning language")
    // fully empty arrivals: the router returns a schema-correct empty
    // frame (no "Unable to infer schema" from partition dirs)
    val none = Streaming.langRouteDoor(spark, arrivals.limit(0),
      graft.operators.LangId.trainProfiles(train))
    assert(none.columns.toSeq === Seq("doc_id", "predicted"))
    assert(none.count() === 0L)
  }

  test("q_stream_media_filter: kept set is batch-split-invariant, both verdicts live") {
    // each asset's verdict depends only on its own decoded signature vs
    // the base signature store, so the 4-micro-batch ingest must equal
    // the one-shot survivor pass over the same arrival fixture
    val M = graft.operators.Multimodal
    val streamed = Streaming.queries("q_stream_media_filter")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val base = M.ensureMediaSigStore(spark, sf0001)
    val index = M.buildMediaIndex(base, graft.operators.Lsh.bandBits(base.count()))
    val arrivals = M.mediaArrivals(spark, sf0001)
    val oneShot =
      try M.withMediaSurvivors(arrivals, index) {
        _.select("doc_id", "nbytes").collect().map(_.toSeq).toSet
      } finally index.unpersist()
    assert(streamed === oneShot)
    // both verdicts live: every byte-identical copy dropped, every
    // extended (genuinely new) asset kept
    val copyIds = arrivals.filter((col("doc_id") - 1000000000L) % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val freshIds = arrivals.filter((col("doc_id") - 1000000000L) % 10 === 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptIds = streamed.map(_.head.asInstanceOf[Long])
    assert(copyIds.nonEmpty && freshIds.nonEmpty, "vacuous arrival fixture")
    assert((keptIds intersect copyIds).isEmpty, "a byte-identical copy survived the door")
    assert(freshIds === keptIds, "extended assets and survivors diverge")
  }

  test("q_stream_dsir: kept set is batch-split-invariant") {
    // each doc's log importance weight depends only on its own bigrams
    // vs the persisted base models, so the 4-micro-batch ingest must be
    // row-identical to a one-shot scoring of the whole delta
    val streamed = Streaming.queries("q_stream_dsir")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val models = graft.operators.Text.dsirModelsOf(
      spark.read.parquet(
        graft.operators.Text.ensureDsirModelStore(spark, sf0001)))
    val oneShot = graft.operators.Text.dsirProfileAgainst(
      Tables(spark, sf0001, "documents").filter(col("doc_id") % 2 === 1),
      models).collect().map(_.toSeq).toSet
    assert(streamed === oneShot)
    assert(streamed.nonEmpty, "fixture kept nothing at ingest")
    val deltaIds = Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 2 === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed.map(_.head.asInstanceOf[Long]).subsetOf(deltaIds),
      "a base doc leaked into the ingest output")
  }

  test("q_stream_ppl_filter: kept set is batch-split-invariant and the gate bites") {
    // each doc's ppl depends only on its own bigrams vs the persisted
    // base LM + the ingest-time cutpoint, so the 4-micro-batch run must
    // be row-identical to a one-shot scoring of the whole delta
    val streamed = Streaming.queries("q_stream_ppl_filter")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val (uni, bi) = graft.operators.Text.baseBigramLm(spark, sf0001)
    val vSize = uni.count()
    val basePpl = graft.operators.Text.perplexityAgainst(
      Tables(spark, sf0001, "documents").filter(col("doc_id") % 2 === 0),
      uni, bi, vSize)
    val Seq(c2) = graft.operators.Holistic.exactQuantiles(
      basePpl, "ppl", Seq(0.666667))
    val oneShot = graft.operators.Text.perplexityAgainst(
        Tables(spark, sf0001, "documents").filter(col("doc_id") % 2 === 1),
        uni, bi, vSize)
      .filter(col("ppl") <= lit(c2))
      .collect().map(_.toSeq).toSet
    assert(streamed === oneShot)
    assert(streamed.nonEmpty, "the gate kept nothing — cutpoint broken")
    // the gate must BITE: some delta doc scores above the cutpoint
    val deltaN = Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 2 === 1).count()
    assert(streamed.size < deltaN, "no delta doc was gated out")
    // the add-one smoothing path is LIVE: a wholly-out-of-vocabulary doc
    // (every word and bigram unseen by the base LM) must still score a
    // finite ppl — and exactly the closed form (V / 1)^1 = V for its one
    // all-unseen bigram: logp = ln(0+1) − ln(0+V) ⇒ ppl = exp(ln V)
    val oov = graft.operators.Text.perplexityAgainst(
      Seq((999999L, "zzzgraftoov1 zzzgraftoov2")).toDF("doc_id", "text"),
      uni, bi, vSize).collect()
    assert(oov.length === 1)
    assert(oov.head.getLong(1) === 1L)
    val expected = BigDecimal(math.exp(math.log(vSize.toDouble)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(oov.head.getDouble(2) === expected,
      s"OOV ppl ${oov.head.getDouble(2)} != V=$expected — smoothing broken")
  }

  test("q_stream_semantic_filter: survivor set is batch-split-invariant and drops dups") {
    // each vector's verdict depends only on itself vs the base cluster
    // store, so the 4-micro-batch streaming run must equal a one-shot
    // run of the same 2-probe assign + cluster-anti-join (the delta
    // side probes nearest AND runner-up cluster — round 9)
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val baseEmb = e.filter(col("vec_id") % 2 === 0)
    val seeds = graft.operators.Dedup.semanticSeeds(baseEmb)
    val base = graft.operators.Dedup.assignToSeeds(baseEmb, seeds)
      .select(col("cluster_id").as("b_cluster"), col("embedding").as("b_emb"))
    val delta = e.filter(col("vec_id") % 2 === 1)
    val asg = graft.operators.Dedup.assignToSeeds(delta, seeds, top = 2)
    val dup = asg.select(col("vec_id"), col("embedding"),
        explode(array(col("cluster_id"), col("cluster2_id"))).as("pc"))
      .join(base,
        col("pc") === col("b_cluster") &&
          call_function("cosine_sim", col("embedding"), col("b_emb")) >= 0.4,
        "left_semi")
      .select("vec_id").distinct()
    val oneShot = asg.join(dup, Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].collect().toSet
    val streamed = Streaming.queries("q_stream_semantic_filter")(spark, sf0001)
      .as[Long].collect().toSet
    assert(streamed === oneShot)
    val deltaIds = delta.select("vec_id").as[Long].collect().toSet
    assert(streamed.subsetOf(deltaIds))
    assert(streamed.size < deltaIds.size, "no semantic dup was dropped at ingest")
    // the second probe must be LIVE: strictly more dups drop than the
    // single-probe filter finds (the boundary-straddling catch, measured
    // corpus-wide in q_dedup_semantic_recall's recall_mp2)
    val singleProbe = graft.operators.Dedup.assignToSeeds(delta, seeds)
      .join(base,
        col("cluster_id") === col("b_cluster") &&
          call_function("cosine_sim", col("embedding"), col("b_emb")) >= 0.4,
        "left_anti")
      .select("vec_id").as[Long].collect().toSet
    assert(streamed.subsetOf(singleProbe),
      "2-probe kept a vector the single probe dropped")
    assert(streamed.size < singleProbe.size,
      "second probe caught no boundary-straddling dup on this fixture")
  }

  test("q_stream_pretrain: split-invariant, dup-dropped, no token lost, shards tile, UNK live") {
    // the pretraining ingest door's laws (round-12): (1) the streamed
    // 4-batch segment table equals a one-shot per-group re-derivation
    // from the factored pieces (split invariance — packing keys on the
    // DATA-derived ingest group, never the micro-batch schedule);
    // (2) every verbatim re-submission (+5e6 ids) is dropped — its base
    // twin either passed the battery (fp in the store) or the copy fails
    // the same battery; (3) suffixed new docs (+6e6) survive and pack;
    // (4) concatenating a doc's id slices in shard order reconstructs
    // its full encoded sequence (no token lost); (5) within each ingest
    // group, every non-final shard carries exactly 2048 ids; (6) the
    // UNK id 0 actually appears (the suffix word is OOV to the base).
    val T = graft.operators.Text
    val seg = Streaming.queries("q_stream_pretrain")(spark, sf0001)
      .collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("start_tok"), r.getAs[Long]("end_tok"),
        r.getAs[Long]("off_in_shard"), r.getAs[String]("ids"),
        r.getAs[Long]("ingest_group")))
    assert(seg.nonEmpty)
    // (2) + (3)
    assert(!seg.exists(s => s._2 >= 5000000L && s._2 < 6000000L),
      "a verbatim re-submission leaked past the fingerprint anti-join")
    assert(seg.exists(_._2 >= 6000000L), "no suffixed new doc survived")
    // (1) one-shot re-derivation (whole delta at once, grouped by gid)
    val symtab = T.pretrainSymtab(spark, sf0001).persist()
    val kept = T.batteryKeptDocs(T.pretrainDeltaDocs(spark, sf0001))
      .join(T.ensurePretrainFpStore(spark, sf0001), Seq("fp"), "left_anti")
      .select("doc_id", "w")
    val encoded = T.encodeWithTokenizer(spark, sf0001, kept, symtab)
      .withColumn("gid", pmod(col("doc_id"), lit(4L))).persist()
    val oneShot = (0L until 4L).flatMap { g =>
      T.packedSegmentsOf(encoded.filter(col("gid") === g)
          .select("doc_id", "ids", "n_tokens"), shardBase = g * 1000000L)
        .withColumn("ingest_group", lit(g))
        .collect()
        .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("start_tok"), r.getAs[Long]("end_tok"),
          r.getAs[Long]("off_in_shard"), r.getAs[String]("ids"),
          r.getAs[Long]("ingest_group")))
    }
    assert(seg.toSet === oneShot.toSet)
    // (4) reconstruct every doc from its slices
    val full = encoded.select("doc_id", "ids", "n_tokens")
      .collect()
      .map(r => r.getLong(0) -> (r.getSeq[Int](1).mkString("-"), r.getLong(2)))
      .toMap
    seg.groupBy(_._2).foreach { case (docId, rows) =>
      val rebuilt = rows.sortBy(_._1)
        .map(_._6).filter(_.nonEmpty).mkString("-")
      assert(rebuilt === full(docId)._1, s"doc $docId: id slices do not reconstruct")
    }
    assert(seg.map(_._2).distinct.sorted.toSeq ===
      full.collect { case (d, (_, n)) if n > 0 => d }.toSeq.sorted)
    // (5) shard tiling per group
    seg.groupBy(s => (s._7, s._1)).foreach { case ((g, shard), rows) =>
      val tokens = rows.map(r => r._4 - r._3 + 1).sum
      val isLast = shard == seg.filter(_._7 == g).map(_._1).max
      if (!isLast)
        assert(tokens === 2048L, s"group $g shard $shard holds $tokens ids")
      else assert(tokens <= 2048L)
    }
    // (6) the UNK id is live
    assert(seg.exists(_._6.split("-").contains("0")),
      "no UNK id in any segment — the OOV path never exercised")
    spark.catalog.clearCache()
  }

  test("q_stream_containment: streamed batches equal the batch canonical-containment rows") {
    // each probe's verdict depends only on itself vs the canonical
    // index (and the PPJoin's rarity order only shapes candidate
    // pruning — completeness holds under any consistent order), so the
    // 4-micro-batch streamed union must equal q_containment_canonical's
    // one-shot output EXACTLY, values included — batch-split invariance
    // and door/batch-twin agreement in one law
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("container"),
        r.getAs[Int]("n_grams"), r.getAs[Int]("inter_cnt"),
        r.getAs[Double]("containment"))
    val streamed = Streaming.queries("q_stream_containment")(spark, sf0001)
      .collect().map(key).toSet
    val batch = graft.operators.Dedup
      .queries("q_containment_canonical")(spark, sf0001)
      .collect().map(key).toSet
    assert(streamed === batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("q_stream_semantic_filter_p3: split-invariant, ⊆ 2-probe survivors, 3rd probe live") {
    // the ×3 ladder rung (round-12): streamed 4-batch == one-shot
    // 3-probe anti-join (split invariance — each vector's verdict
    // depends only on itself vs the base), survivors can only SHRINK
    // vs the 2-probe door, and the 3rd probe must catch something on
    // this fixture (else the rung is dead weight)
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val baseEmb = e.filter(col("vec_id") % 2 === 0)
    val seeds = graft.operators.Dedup.semanticSeeds(baseEmb)
    val base = graft.operators.Dedup.assignToSeeds(baseEmb, seeds)
      .select(col("cluster_id").as("b_cluster"), col("embedding").as("b_emb"))
    val delta = e.filter(col("vec_id") % 2 === 1)
    val asg3 = graft.operators.Dedup.assignToSeeds(delta, seeds, top = 3)
    val dup3 = asg3.select(col("vec_id"), col("embedding"),
        explode(array(col("cluster_id"), col("cluster2_id"),
          col("cluster3_id"))).as("pc"))
      .join(base,
        col("pc") === col("b_cluster") &&
          call_function("cosine_sim", col("embedding"), col("b_emb")) >= 0.4,
        "left_semi")
      .select("vec_id").distinct()
    val oneShot = asg3.join(dup3, Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].collect().toSet
    val streamed = Streaming.queries("q_stream_semantic_filter_p3")(spark, sf0001)
      .as[Long].collect().toSet
    assert(streamed === oneShot)
    val p2 = Streaming.queries("q_stream_semantic_filter")(spark, sf0001)
      .as[Long].collect().toSet
    assert(streamed.subsetOf(p2), "3-probe kept a vector the 2-probe dropped")
    assert(streamed.size < p2.size,
      "third probe caught no boundary-straddling dup on this fixture")
  }

  test("q_stream_semantic_union: split-invariant, ⊆ 2-probe survivors, band arm live") {
    // the band-union mode (round-12): streamed 4-batch == one-shot
    // (2-probe cluster dup ∪ band-collision dup) anti-join — an
    // INDEPENDENT re-derivation of the union arm; survivors can only
    // shrink vs the 2-probe door; and the band family must catch dups
    // the cluster probes miss (complementarity, measured in SCALE.md)
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val baseEmb = e.filter(col("vec_id") % 2 === 0)
    val nBase = baseEmb.count()
    val seeds = graft.operators.Dedup.semanticSeeds(baseEmb)
    val base = graft.operators.Dedup.assignToSeeds(baseEmb, seeds)
      .select(col("cluster_id").as("b_cluster"), col("embedding").as("b_emb"))
    val delta = e.filter(col("vec_id") % 2 === 1)
    val asg = graft.operators.Dedup.assignToSeeds(delta, seeds, top = 2)
    val dupCluster = asg.select(col("vec_id"), col("embedding"),
        explode(array(col("cluster_id"), col("cluster2_id"))).as("pc"))
      .join(base,
        col("pc") === col("b_cluster") &&
          call_function("cosine_sim", col("embedding"), col("b_emb")) >= 0.4,
        "left_semi")
      .select("vec_id").distinct()
    val bits = graft.operators.Lsh.bandBits(nBase)
    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Lsh.explodeBands(
        df.withColumn("code",
          call_function("hyperplane_bits", col("embedding")))
          .select(col("vec_id"), col("code")), "code", bits)
    val dupBand = bandsOf(delta)
      .join(delta, Seq("vec_id"))
      .join(bandsOf(baseEmb)
        .select(col("vec_id").as("b_vid"), col("band"), col("bv"))
        .join(baseEmb.select(col("vec_id").as("b_vid"),
          col("embedding").as("b_emb")), Seq("b_vid")),
        Seq("band", "bv"))
      .filter(call_function("cosine_sim",
        col("embedding"), col("b_emb")) >= 0.4)
      .select("vec_id").distinct()
    val oneShot = delta.join(dupCluster.unionByName(dupBand).distinct(),
        Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].collect().toSet
    val streamed = Streaming.queries("q_stream_semantic_union")(spark, sf0001)
      .as[Long].collect().toSet
    assert(streamed === oneShot)
    val p2 = Streaming.queries("q_stream_semantic_filter")(spark, sf0001)
      .as[Long].collect().toSet
    assert(streamed.subsetOf(p2), "union kept a vector the 2-probe dropped")
    assert(streamed.size < p2.size,
      "band arm caught no dup the cluster probes missed on this fixture")
  }

  test("q_stream_upsert: merged serving table equals the batch count + latest row per user") {
    // counts ADD and latest is the struct MAX on the unique (ts,
    // event_id) order, so the 4-micro-batch versioned merge must equal
    // the one-shot "count + newest event per user" over all events
    val streamed = Streaming.queries("q_stream_upsert")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val ev = Tables(spark, sf0001, "events")
    val newest = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val batch = ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .join(ev.withColumn("rn", row_number().over(newest))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts").cast("timestamp_ntz").as("last_ts"),
          col("event_type").as("last_type"), col("value").as("last_value")),
        "user_id")
      .select("user_id", "n_events", "last_ts", "last_type", "last_value")
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.size === ev.select("user_id").distinct().count())
  }

  test("q_stream_topk: merged count grid yields exactly the batch top-3 per hour") {
    // the merge is SUM over (hour, type) — associative + commutative, so
    // the 4-micro-batch incremental grid must equal the one-shot batch
    // aggregate, and the serving rank on top of it the batch top-3
    val streamed = Streaming.queries("q_stream_topk")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("hour_ts").orderBy(col("n").desc, col("event_type"))
    val batch = Tables(spark, sf0001, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 3)
      .select(col("hour_ts").cast("timestamp_ntz").as("hour_ts"),
        col("event_type"), col("n"), col("rn"))
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("committedGrowDirs skips committed-but-empty grow dirs") {
    // A zero-survivor micro-batch commits a dir with _SUCCESS and no
    // part files; unioning it into read.parquet would kill the stream
    // with "Unable to infer schema" (round-13 ADVICE). Only dirs with a
    // real data file may qualify.
    val root = java.nio.file.Files.createTempDirectory("graft_growdirs").toString
    def mk(i: Int): java.io.File = {
      val d = new java.io.File(s"$root/grow/batch_b$i"); d.mkdirs(); d
    }
    // b0: committed with real data
    spark.range(3).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/grow/batch_b0")
    // b1: _SUCCESS only (the zero-survivor shape)
    val d1 = mk(1); new java.io.File(d1, "_SUCCESS").createNewFile()
    // b2: _SUCCESS plus a zero-length part file (crash mid-write shape)
    val d2 = mk(2); new java.io.File(d2, "_SUCCESS").createNewFile()
    new java.io.File(d2, "part-00000.parquet").createNewFile()
    // b3: absent entirely (no dir)
    val got = Streaming.committedGrowDirs(root, 4L)
    assert(got === Seq(s"$root/grow/batch_b0"))
    // and the qualifying list reads back cleanly
    assert(spark.read.parquet(got: _*).count() === 3L)
  }

  test("q_stream_tumbling (memory-sink complete mode) equals the batch twin") {
    val viaStream = Streaming.queries("q_stream_tumbling")(spark, sf0001)
      .select(col("hour_ts").cast("timestamp"), col("event_type"), col("n"), col("sum_value"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val viaBatch = graft.operators.Windows.queries("q_time_bucket")(spark, sf0001)
      .select(col("hour_ts").cast("timestamp"), col("event_type"), col("n"), col("sum_value"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(viaStream === viaBatch)
  }
}
