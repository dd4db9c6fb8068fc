package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.SkewJoin

/** Source/sink coverage (SURVEY.md §2.2 "Scans / sources / sinks"): the
  * reference accepts any dict-like datasource (mincemeat.py:306); the
  * engine reads parquet/csv/json/text and writes parquet — round-trips
  * must preserve values. Plus the salted skew join utility.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("csv round-trip preserves nation") {
    val n = Tables(spark, sf0001, "nation")
    val dir = tmp("graft_csv")
    n.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() === n.count())
    assert(back.select("n_name").as[String].collect().sorted.toSeq ===
      n.select("n_name").as[String].collect().sorted.toSeq)
  }

  test("json round-trip preserves events-derived records") {
    val e = Tables(spark, sf0001, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val dir = tmp("graft_json")
    e.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
    assert(back.count() === e.count())
    val a = back.agg(sum(col("value").cast("decimal(30,6)"))).head().getDecimal(0)
    val b = e.agg(sum(col("value").cast("decimal(30,6)"))).head().getDecimal(0)
    assert(a === b)
  }

  test("text source reads documents dumped as lines (file-corpus scan)") {
    val d = Tables(spark, sf0001, "documents").select("text")
    val dir = tmp("graft_text")
    d.write.mode("overwrite").text(dir)
    val back = spark.read.text(dir)
    assert(back.count() === d.count())
  }

  test("in-memory scan: createDataFrame = the reference's dict datasource") {
    val df = spark.createDataFrame(Seq((0, "Humpty Dumpty sat"), (1, "on a wall")))
      .toDF("k", "v")
    val words = df.select(explode(split(col("v"), " ")).as("w")).count()
    assert(words === 6)
  }

  test("salted skew join equals plain join (deterministic salt)") {
    val left = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, s"l$i"))
      .toDF("k", "lv") // key 1 is hot
    val right = Seq((1L, "dim1"), (2L, "dim2"), (5L, "dim5")).toDF("rk", "rv")
    val plain = left.join(right, left("k") === right("rk")).select("k", "lv", "rv")
      .as[(Long, String, String)].collect().toSet
    val salted = SkewJoin.saltedEquiJoin(left, right, "k", "rk", buckets = 8)
      .select("k", "lv", "rv").as[(Long, String, String)].collect().toSet
    assert(salted === plain)
    assert(plain.nonEmpty)
  }

  test("partitioned parquet write + partition-pruned scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val events = Tables(spark, sf0001, "events")
    events.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      s"partition filter missing from scan:\n$plan")
    assert(pruned.count() === events.filter(col("event_type") === "click").count())
  }

  test("small-file compaction preserves content and bounds output file count") {
    // the nightly op every lake table needs: a fragmented write (32 tiny
    // files) compacted by a shuffle-free coalesce rewrite to a target
    // file count — row-for-row identical, just fewer, bigger files
    val d = Tables(spark, sf0001, "documents")
    val small = tmp("graft_smallfiles")
    d.repartition(32).write.mode("overwrite").parquet(small)
    val compacted = tmp("graft_compacted")
    spark.read.parquet(small).coalesce(2).write.mode("overwrite").parquet(compacted)
    val files = new java.io.File(compacted).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(files <= 2, s"expected <= 2 part files, found $files")
    assert(spark.read.parquet(compacted).select("doc_id").as[Long].collect().sorted.toSeq
      === d.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("range-clustered layout: per-file shipdate ranges are disjoint") {
    // the property that makes parquet min/max stats prune whole files for
    // any shipdate-range predicate (q_scan_clustered's 100-TB claim)
    val out = graft.operators.Sources.ensureClusteredLineitem(spark, sf0001)
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_shipdate").as("lo"), max("l_shipdate").as("hi"))
      .orderBy("lo")
      .as[(String, java.sql.Timestamp, java.sql.Timestamp)].collect()
    assert(ranges.length > 1, "expected multiple range-partitioned files")
    ranges.sliding(2).foreach { case Array((_, _, hi), (_, lo, _)) =>
      assert(!hi.after(lo), s"overlapping file ranges: $hi > $lo")
    }
    // content preserved: same rows as the source table
    assert(spark.read.parquet(out).count() ===
      Tables(spark, sf0001, "lineitem").count())
  }

  test("z-order layout: most files fall outside a 2D box in BOTH dims") {
    // the property a 1D sort cannot give: every file's bounding box is
    // small in partkey AND suppkey, so min/max stats prune files for a
    // two-column box predicate (q_scan_zorder). A suppkey-only or
    // partkey-only sort would leave the other column spanning the full
    // domain in every file (0% pruning on that dimension).
    val out = graft.operators.Sources.ensureZorderedLineitem(spark, sf0001)
    val boxes = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_partkey").as("pklo"), max("l_partkey").as("pkhi"),
        min("l_suppkey").as("sklo"), max("l_suppkey").as("skhi"))
      .as[(String, Long, Long, Long, Long)].collect()
    assert(boxes.length >= 8, s"expected many z-files, got ${boxes.length}")
    // q_scan_zorder's box: partkey in [1,97], suppkey in [1,4] — strictly
    // inside the "low-low" z-quadrant at sf0.001 (domains 199 x 9; 97
    // and 4 keep both scaled coordinates below the 512 half-boundary),
    // so only ~1/4 of the z-range overlaps it
    val overlapping = boxes.count { case (_, pklo, pkhi, sklo, skhi) =>
      pklo <= 97 && pkhi >= 1 && sklo <= 4 && skhi >= 1
    }
    assert(overlapping * 2 < boxes.length,
      s"z-order should prune > half the files: $overlapping/${boxes.length}")
    // content preserved
    assert(spark.read.parquet(out).count() ===
      Tables(spark, sf0001, "lineitem").count())
  }

  test("GraftExtensions exposes cosine_sim to a pure-SQL session") {
    // GraftSession.local installs the extension, and a plain fork
    // inherits it: every name in the table resolves with no install call
    val s2 = spark.newSession()
    val missing = graft.functions.GraftFunctions.all.map(_._1).filterNot(n =>
      s2.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(missing.isEmpty, s"a fresh fork does not resolve $missing")
    // SQL surface end-to-end on the same fork
    Tables(s2, sf0001, "embeddings").createOrReplaceTempView("emb")
    val r = s2.sql(
      "SELECT cosine_sim(embedding, embedding) AS c FROM emb LIMIT 5")
      .as[Double](org.apache.spark.sql.Encoders.scalaDouble).collect()
    assert(r.forall(c => math.abs(c - 1.0) < 1e-9))
    // the full native-function surface is SQL-reachable
    Tables(s2, sf0001, "documents").createOrReplaceTempView("docs")
    val hashed = s2.sql(
      """SELECT poly_hash(split(lower(text), '\\s+')) AS ph,
                minhash64(ngram_hashes(split(lower(text), '\\s+'))) AS sig,
                simhash64_fp(split(lower(text), '\\s+')) AS sh
         FROM docs LIMIT 5""").collect()
    assert(hashed.length === 5)
    assert(hashed.forall(r2 => r2.getSeq[Long](1).length === 64))
    val hp = s2.sql(
      "SELECT hyperplane_bits(embedding) AS code FROM emb LIMIT 5").collect()
    assert(hp.length === 5)
  }

  test("ensureStore: a throwing build leaks no tmp dir, propagates, and retries clean") {
    import graft.operators.Sources
    // fresh fake sf dir => a unique fixture parent, so leftovers here can
    // only come from THIS test's builds
    val dir = tmp("graft_store_fail")
    val tag = "deliberately_broken_v1"
    val parent = new java.io.File(Sources.fixturePath(dir, tag)).getParentFile
    val boom = intercept[RuntimeException] {
      Sources.ensureStore(dir, tag) { t =>
        new java.io.File(t).mkdirs()
        new java.io.File(s"$t/partial.parquet").createNewFile()
        sys.error("deliberately broken build")
      }
    }
    assert(boom.getMessage.contains("deliberately broken"))
    val leftovers = Option(parent.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    assert(leftovers.isEmpty,
      s"half-written build leaked: ${leftovers.map(_.getName).mkString(", ")}")
    // the same tag then builds clean — no stale marker blocks the retry;
    // like a multi-frame store it writes only a subdir, and ensureStore
    // writes the root completeness marker
    val p = Sources.ensureStore(dir, tag) { t =>
      new java.io.File(s"$t/part").mkdirs(); ()
    }
    assert(new java.io.File(s"$p/_SUCCESS").exists())
  }
}
