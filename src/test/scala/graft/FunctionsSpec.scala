package graft

import org.apache.spark.sql.functions._

/** Native expressions vs their interpreted/HOF equivalents. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("poly_hash matches the aggregate(transform(...)) HOF fold exactly") {
    val docs = Tables(spark, sf0001, "documents")
      .withColumn("norm", trim(regexp_replace(lower(col("text")), "\\s+", " ")))
      .filter(length(col("norm")) > 0)
      .withColumn("toks", split(col("norm"), " "))
    val both = docs.select(
      col("doc_id"),
      call_function("poly_hash", col("toks")).as("native"),
      aggregate(
        transform(col("toks"), t => (length(t) * lit(7) + ascii(t)).cast("long")),
        lit(0L),
        (acc, x) => (acc * 31 + x) % 1000000007L).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
    assert(both.count() > 0)
  }

  test("span_md5s matches the md5(array_join(slice(...))) HOF exactly") {
    val docs = Tables(spark, sf0001, "documents")
      .withColumn("w",
        split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "))
      .filter(size(col("w")) >= 8)
    val both = docs.select(
      col("doc_id"),
      call_function("span_md5s", col("w")).as("native"),
      expr("""transform(sequence(1, size(w) - 7), i ->
            md5(array_join(slice(w, i, 8), ' ')))""").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
    assert(both.count() > 0)
    // short docs yield an empty span list, not null
    val empty = spark.sql("SELECT span_md5s(array('a', 'b')) AS s").collect()
    assert(empty.head.getSeq[String](0).isEmpty)
    // null elements: array_join SKIPS nulls and their delimiters — the
    // native form must match it there too (the SQL-surface contract)
    val arr = "array('a','b',CAST(NULL AS STRING),'c','d','e','f','g','h')"
    val withNull = spark.sql(
      s"""SELECT span_md5s($arr) AS s,
            transform(sequence(1, 2),
              i -> md5(array_join(slice($arr, i, 8), ' '))) AS h""").collect()
    assert(withNull.head.getSeq[String](0) === withNull.head.getSeq[String](1))
  }

  test("bigram_md5_buckets matches the conv(substring(md5(...))) HOF exactly") {
    val docs = Tables(spark, sf0001, "documents")
      .withColumn("w",
        split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "))
      .filter(size(col("w")) >= 2)
    val both = docs.select(
      col("doc_id"),
      call_function("bigram_md5_buckets", col("w")).as("native"),
      expr("""transform(sequence(1, size(w) - 1), i ->
            CAST(conv(substring(md5(concat_ws(' ',
              element_at(w, i), element_at(w, i + 1))), 1, 8), 16, 10)
              AS BIGINT) % 1024)""").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
    assert(both.count() > 0)
    // the raw-id sibling: span_md5_ids (k=4, no modulus) vs its HOF form
    // (>= 4 tokens: the HOF's sequence(0, size(w) - 4) is invalid below)
    val ids = docs.filter(size(col("w")) >= 4).select(
      call_function("span_md5_ids", col("w")).as("native"),
      expr("""transform(sequence(0, size(w) - 4), i ->
            cast(conv(substring(md5(concat_ws(' ', slice(w, i + 1, 4))), 1, 8), 16, 10)
              as bigint))""").as("hof"))
    assert(ids.filter(col("native") =!= col("hof")).count() === 0)
    // concat_ws null-skip parity on the SQL surface
    val arr = "array('a', CAST(NULL AS STRING), 'b')"
    val withNull = spark.sql(
      s"""SELECT bigram_md5_buckets($arr) AS s,
            transform(sequence(1, 2),
              i -> CAST(conv(substring(md5(concat_ws(' ',
                element_at($arr, i), element_at($arr, i + 1))), 1, 8), 16, 10)
                AS BIGINT) % 1024) AS h""").collect()
    assert(withNull.head.getSeq[Long](0) === withNull.head.getSeq[Long](1))
  }

  test("span_md5_ids / chunk_md5_ids64 reject a non-constant width with a clear error") {
    Tables(spark, sf0001, "documents").limit(5)
      .selectExpr("split(text, ' ') AS w", "cast(doc_id as int) AS k")
      .createOrReplaceTempView("wk_docs")
    for (fn <- Seq("span_md5_ids", "chunk_md5_ids64")) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT $fn(w, k) FROM wk_docs").collect()
      }
      // the guard's message must reach the user (previously: an opaque
      // ClassCastException/NPE from eval(null) on the unfolded arg)
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: msgs(t.getCause)
      assert(msgs(e).exists(m => m != null &&
        m.contains("width argument must be a constant integer")),
        s"$fn error did not carry the guard message: ${msgs(e)}")
    }
  }

  test("poly_hash handles empty arrays and non-ascii first chars") {
    val df = Seq(
      Seq.empty[String],
      Seq("a"),
      Seq("ü", "b"),     // non-ascii first codepoint
      Seq("", "x")        // empty token => ascii 0
    ).toDF("toks").select(call_function("poly_hash", col("toks")).as("h"))
    val hs = df.as[Long].collect()
    assert(hs(0) === 0L)
    assert(hs(1) === (7L + 'a'.toLong) % 1000000007L)
    assert(hs(2) === ((1L * 7 + 0xFC) % 1000000007L * 31 + 7 + 'b') % 1000000007L)
  }

  test("hash functions tolerate null array elements (treated as empty string)") {
    val r = spark.sql(
      """SELECT poly_hash(array('a', CAST(NULL AS STRING))) AS ph,
                simhash64_fp(array('a', CAST(NULL AS STRING))) AS sh,
                ngram_hashes(array('a', CAST(NULL AS STRING), 'b')) AS ng""").head()
    val expectPh = spark.sql("SELECT poly_hash(array('a', '')) AS ph").head().getLong(0)
    val expectSh = spark.sql("SELECT simhash64_fp(array('a', '')) AS sh").head().getLong(0)
    assert(r.getLong(0) === expectPh)
    assert(r.getLong(1) === expectSh)
    assert(r.getSeq[Long](2).nonEmpty) // 3 tokens -> 1 trigram, no NPE
  }

  test("law: SpanMd5Util matches an independent md5-join reference on arbitrary tokens") {
    import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def refJoin(toks: Seq[Option[String]]): String =
      toks.flatten.mkString(" ") // array_join/concat_ws null-skip
    def refMd5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def refU32(hex: String): Long = java.lang.Long.parseLong(hex.take(8), 16)
    val genTok = Gen.option(Gen.oneOf(
      Arbitrary.arbString.arbitrary, Gen.const(""), Gen.const("a b"),
      Gen.const("é中😀")))
    val genToks = Gen.listOf(genTok)
    val genK = Gen.choose(1, 5)
    val p = Prop.forAll(genToks, genK) { (toks: List[Option[String]], k: Int) =>
      val arr = new GenericArrayData(
        toks.map(_.map(UTF8String.fromString).orNull).toArray[Any])
      val windows = toks.sliding(k).filter(_.length == k).toSeq
      val wantHex = windows.map(w => refMd5Hex(refJoin(w)))
      val gotHex = graft.functions.SpanMd5Util.spans(arr, k)
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      val wantIds = wantHex.map(refU32)
      val gotIds = graft.functions.SpanMd5Util.spanIds(arr, k, 0)
        .toLongArray().toSeq
      val wantBuckets = wantIds.map(_ % 7)
      val gotBuckets = graft.functions.SpanMd5Util.spanIds(arr, k, 7)
        .toLongArray().toSeq
      // the non-overlapping 64-bit chunk-id sibling: grouped(k) full
      // chunks, first 16 hex chars read as an unsigned (= signed-bits)
      // 64-bit integer
      val wantChunks = toks.grouped(k).filter(_.length == k).toSeq
        .map(w => java.lang.Long.parseUnsignedLong(
          refMd5Hex(refJoin(w)).take(16), 16))
      val gotChunks = graft.functions.SpanMd5Util.chunkIds64(arr, k)
        .toLongArray().toSeq
      (if (toks.length < k) gotHex.isEmpty else gotHex == wantHex) &&
        (if (toks.length < k) gotIds.isEmpty else gotIds == wantIds) &&
        (if (toks.length < k) gotBuckets.isEmpty else gotBuckets == wantBuckets) &&
        gotChunks == wantChunks
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("law: TopKAgg bounded buffer equals global top-k for any split") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val agg = new graft.operators.Holistic.TopKAgg(3)
    val genVals = Gen.listOf(Gen.choose(-1000.0, 1000.0))
    val genSplit = Gen.choose(0, 100)
    val p = Prop.forAll(genVals, genSplit) { (vs: List[Double], cut: Int) =>
      // arbitrary partition split: reduce each side, merge — must equal
      // the top-3 of the whole list (the property partial aggregation needs)
      val (a, b) = vs.splitAt(if (vs.isEmpty) 0 else cut % (vs.length + 1))
      val bufA = a.foldLeft(agg.zero)(agg.reduce)
      val bufB = b.foldLeft(agg.zero)(agg.reduce)
      val merged = agg.finish(agg.merge(bufA, bufB))
      merged == vs.sorted(Ordering[Double].reverse).take(3)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), p)
    assert(res.passed, res.status.toString)
  }

  test("law: MisraGriesAgg keeps every item above N/(k+1) under any split") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val k = 4
    val agg = new graft.operators.Holistic.MisraGriesAgg(k)
    // Skewed stream over a vocabulary larger than k, so the sketch must
    // actually evict: heavy items drawn often, tail items rarely.
    val genVals = Gen.listOf(Gen.frequency(
      (8, Gen.oneOf("hh1", "hh2")),
      (2, Gen.oneOf((1 to 20).map(i => s"tail$i")))))
    val genSplit = Gen.choose(0, 100)
    val p = Prop.forAll(genVals, genSplit) { (vs: List[String], cut: Int) =>
      val (a, b) = vs.splitAt(if (vs.isEmpty) 0 else cut % (vs.length + 1))
      val bufA = a.foldLeft(agg.zero)(agg.reduce)
      val bufB = b.foldLeft(agg.zero)(agg.reduce)
      val sketch = agg.finish(agg.merge(bufA, bufB))
      val exact = vs.groupBy(identity).view.mapValues(_.size.toLong)
      val n = vs.size.toLong
      // 1) size never exceeds k; 2) guarantee: count > N/(k+1) => present;
      // 3) estimates never overcount and undercount by at most N/(k+1).
      sketch.size <= k &&
        exact.forall { case (w, c) =>
          (c * (k + 1) <= n) || sketch.contains(w) } &&
        sketch.forall { case (w, est) =>
          val c = exact.getOrElse(w, 0L)
          est <= c && (c - est) * (k + 1) <= n }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, res.status.toString)
  }

  test("hyperplane_bits native expression is bit-equal to the reference UDF") {
    val e = Tables(spark, sf0001, "embeddings")
    val both = e.select(
      col("vec_id"),
      call_function("hyperplane_bits", col("embedding")).as("native"),
      graft.functions.Hashing.hyperplane(col("embedding")).as("udf"))
    assert(both.filter(col("native") =!= col("udf")).count() === 0)
    assert(both.count() > 0)
    // and no ScalaUDF survives in the native plan
    val plan = e.select(call_function("hyperplane_bits", col("embedding")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), plan)
  }

  test("simhash64_fp native expression is bit-equal to the reference UDF") {
    val d = Tables(spark, sf0001, "documents")
      .withColumn("toks", split(lower(col("text")), "\\s+"))
    val both = d.select(
      col("doc_id"),
      call_function("simhash64_fp", col("toks")).as("native"),
      graft.functions.Hashing.simhash(col("toks")).as("udf"))
    assert(both.filter(col("native") =!= col("udf")).count() === 0)
    assert(both.count() > 0)
  }

  test("jaro_winkler native expression matches the reference definition") {
    // values pinned from DuckDB's jaro_winkler_similarity (the oracle
    // engine) — covers the boost path, the no-boost-below-0.7 gate,
    // transpositions, unequal lengths, and the degenerate cases
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dwayne", "duane", 0.8400000000000001),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("abqqqqqq", "abzzzzzz", 0.5), // shared prefix but jaro <= 0.7: no boost
      ("same", "same", 1.0),
      ("", "x", 0.0),
      ("", "", 0.0), // DuckDB scores any empty side 0, even both-empty
      ("crate", "trace", 0.7333333333333334),
      ("arnab", "urban", 0.6),
      // odd transposition-mismatch count: DuckDB floors diff/2 (t = 1,
      // not 1.5) — this pair diverges under the fractional-t definition
      ("badadd", "adcbeacaa", 0.6203703703703703),
      // non-ASCII: BOTH engines match per UTF-8 BYTE, not per code point
      // (DuckDB's 0.8483 for café/cafe is the 5-byte/4-byte computation;
      // the code-point version would give 0.8833). Pinned so a future
      // codepoint-aware rewrite on either side fails loudly instead of
      // silently diverging on accented p_name data.
      ("café", "cafe", 0.8483333333333334),
      ("Müller", "Mueller", 0.8285714285714287),
      ("søren", "soren", 0.8400000000000001))
    val got = cases.toDF("a", "b", "want")
      .select(col("want"), call_function("jaro_winkler", col("a"), col("b")).as("got"),
        call_function("jaro_winkler", col("b"), col("a")).as("sym"))
      .collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(0)) < 1e-12,
        s"jw mismatch: got ${r.getDouble(1)} want ${r.getDouble(0)}")
      assert(r.getDouble(2) === r.getDouble(1), "jw must be symmetric")
    }
  }

  test("try_parse_int agrees with try_cast over the strict-integer grammar") {
    val cases = Seq("12", "-3", "+7", " 42 ", "0", "2147483647", "-2147483648",
      "2147483648", "-2147483649", "99999999999999999999", "A", "", " ", "+",
      "-", "1.5", "12x", "x12", "١٢")
    val df = cases.toDF("s").selectExpr(
      "s", "try_parse_int(s) AS native", "try_cast(s AS INT) AS cast")
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.get(1) === r.get(2), s"input '${r.getString(0)}': " +
        s"native=${r.get(1)} try_cast=${r.get(2)}")
    }
    // null input -> null out, no NPE
    assert(spark.sql("SELECT try_parse_int(CAST(NULL AS STRING))").head().isNullAt(0))
  }

  test("HLL sketch union across shards tracks the direct sketch and the exact count") {
    val ev = Tables(spark, sf0001, "events")
    // mergeability contract: union-of-shard-sketches estimates the same
    // value SET as one global sketch. Not bit-equal — a union promotes
    // through a different internal mode (SET-mode shard sketches vs a
    // direct sketch already in HLL mode) — so the pin is tolerance, and
    // both paths must bound the exact count
    val direct = ev.agg(hll_sketch_estimate(hll_sketch_agg(col("event_id"))))
      .head().getLong(0)
    val viaShards = graft.operators.Relational.queries("q_sketch_union")(spark, sf0001)
      .head().getLong(0)
    assert(math.abs(viaShards - direct).toDouble / direct <= 0.02,
      s"shard-union $viaShards vs direct $direct diverge > 2%")
    val exact = ev.select(countDistinct(col("event_id"))).head().getLong(0)
    assert(math.abs(viaShards - exact).toDouble / exact <= 0.05,
      s"estimate $viaShards off exact $exact by > 5%")
  }

  test("law: eval_once is the identity on values — only a collapse barrier") {
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" t"), col("doc_id").cast("string")).as("x"))
    val bare = docs.select(col("doc_id"), col("x"))
    val wrapped = docs.select(col("doc_id"),
      call_function("eval_once", col("x")).as("x"))
    assert(wrapped.exceptAll(bare).isEmpty && bare.exceptAll(wrapped).isEmpty)
    // null passthrough too
    val n = spark.sql("select eval_once(cast(null as string)) v").head()
    assert(n.isNullAt(0))
  }

  test("percentile_approx sketch tracks the exact median per group") {
    val exact = graft.operators.Holistic.queries("q_median_typed")(spark, sf0001)
      .as[(String, Double)].collect().toMap
    val approx = graft.operators.Holistic.queries("q_percentile_approx")(spark, sf0001)
      .as[(String, Double)].collect().toMap
    assert(approx.keySet === exact.keySet)
    // l_quantity is 1..50-ish; at accuracy 10000 on sf0.001 the sketch
    // should land within one quantity unit of the exact median
    approx.foreach { case (k, v) =>
      assert(math.abs(v - exact(k)) <= 1.0, s"group $k: approx $v vs exact ${exact(k)}")
    }
  }
}
