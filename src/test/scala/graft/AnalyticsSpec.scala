package graft

import org.apache.spark.sql.functions._

import graft.operators.{Holistic, Joins}

/** Law/property tests for the round-3 analytics additions: triangle
  * counting vs a brute-force recount, MAD outliers on planted anomalies,
  * exact AUC on constructed separable/inverted/tied score sets, and
  * fixture-level sanity for BM25 / perplexity / centroid similarity.
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("planted-PII law: every pattern class fires and nothing survives the scrub") {
    val T = graft.operators.Text
    val prof = SparkEntry.queries("q_pii_redact")(spark, sf0001)
      .persist()
    try {
      // each class fires on its own modulus (the planted guarantee) —
      // the class list comes from PiiPatterns itself, so a class added
      // to the battery is automatically under this law (round-15: ipv6
      // on %29, card on %31, key on %37 joined email/ip/id/phone)
      val classes = T.PiiPatterns.map { case (cls, _, _) => s"n_$cls" }
      assert(classes.size >= 7, "battery breadth regressed")
      for (cls <- classes) {
        val n = prof.agg(sum(col(cls))).as[Long].head()
        assert(n > 0, s"pattern class $cls never fired — plant or regex broken")
      }
      // no PII survives redaction, for ANY doc (organic hits included)
      assert(prof.filter(col("n_residual") =!= 0).count() === 0L)
      // direct witness on one planted compound doc (every modulus
      // divides 0): doc 0 carries ALL classes at once
      val d0 = prof.filter(col("doc_id") === 0).collect()
      assert(d0.length === 1)
      for ((cls, i) <- classes.zipWithIndex)
        assert(d0.head.getLong(2 + i) >= 1L, s"doc 0 missing $cls")
      // the sk_test_ alternation arm fires too (no modulus plants it —
      // a direct probe keeps the pattern's second branch honest)
      val probe = Seq((1L, "x", "src", "en"))
        .toDF("doc_id", "text", "source", "lang")
        .withColumn("text", lit("a sk_test_abcdef123456 b"))
      assert(T.piiScrubProfile(probe).select("n_key").as[Long].head() === 1L)
      // every ipv6 arm fires, and the documented non-PII shapes don't
      // (round-15 review: the first cut matched only the planted
      // compressed shape, so real addresses leaked through a green
      // n_residual)
      val v6 = Seq(
        ("full 2001:0db8:85a3:0000:0000:8a2e:0370:7334 x", 1L),
        ("loopback ::1 x", 1L),
        ("linklocal fe80::1 x", 1L),
        ("mapped ::ffff:0:0 x", 1L),
        ("mid 2001:db8::8a2e:370:7334 x", 1L),
        ("a time 12:30:45 is not an address", 0L),
        ("mac 00:1b:44:11:3a:b7 is not an address", 0L))
      for (((txt, want), i) <- v6.zipWithIndex) {
        val p = Seq((i.toLong, txt, "src", "en"))
          .toDF("doc_id", "text", "source", "lang")
        val got = T.piiScrubProfile(p).select("n_ipv6").as[Long].head()
        assert(got === want, s"ipv6 probe [$txt]: got $got, want $want")
      }
      // scrubbed text really carries the markers, not the planted values
      val clean = T.piiScrubProfile(T.piiAugmentedDocs(
          Tables(spark, sf0001, "documents")).filter(col("doc_id") === 0))
      val row = T.piiAugmentedDocs(Tables(spark, sf0001, "documents"))
        .filter(col("doc_id") === 0).select("text").as[String].head()
      assert(row.contains("user0@example.com"), "plant missing from doc 0")
      val scrubbedLen = clean.select("clean_len").as[Long].head()
      assert(scrubbedLen < row.length, "redaction did not shrink doc 0")
    } finally { prof.unpersist(); () }
  }

  test("PII guard law: guarded battery == raw regex battery, row-identically") {
    // round-15 optimization: every regexp_count/replace in the battery
    // is gated by a contains() literal implied by its pattern. This law
    // pins the guarded profile EXACTLY equal to the raw (unguarded)
    // fold over the planted corpus — a guard literal that stops being
    // implied by its pattern (or a class whose guard goes missing)
    // breaks equality here before it can skew an oracle.
    val T = graft.operators.Text
    val aug = T.piiAugmentedDocs(Tables(spark, sf0001, "documents"))
    val rawClean = T.PiiPatterns.foldLeft(col("text")) {
      case (c, (_, p, r)) => regexp_replace(c, p, r)
    }
    val rawCounts = T.PiiPatterns.map { case (cls, p, _) =>
      regexp_count(col("text"), lit(p)).cast("long").as(s"n_$cls")
    }
    val raw = aug
      .select(Seq(col("doc_id"), col("source")) ++ rawCounts
        :+ rawClean.as("clean_text"): _*)
      .select(Seq(col("doc_id"), col("source")) ++
        T.PiiPatterns.map { case (cls, _, _) => col(s"n_$cls") } ++ Seq(
          T.PiiPatterns.map { case (_, p, _) =>
            regexp_count(col("clean_text"), lit(p)).cast("long")
          }.reduce(_ + _).as("n_residual"),
          md5(col("clean_text")).as("clean_md5"),
          length(col("clean_text")).cast("long").as("clean_len")): _*)
    val got = T.piiScrubProfile(aug)
    assert(got.exceptAll(raw).isEmpty, "guarded profile has extra rows")
    assert(raw.exceptAll(got).isEmpty, "guarded profile lost rows")
    // NULL-text parity (round-15 ADVICE): regexp_count(NULL) is NULL, and
    // the guard must preserve it — not collapse it to 0 through the
    // otherwise() arm. Probe a frame with a null text row directly.
    val withNull = Seq(
      (1L, Option("mail a@b.co and 1.2.3.4"), "s", "en"),
      (2L, Option.empty[String], "s", "en"),
      (3L, Option("clean row"), "s", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val gotN = T.piiScrubProfile(withNull)
    val rawN = withNull
      .select(Seq(col("doc_id"), col("source")) ++ T.PiiPatterns.map {
        case (cls, p, _) =>
          regexp_count(col("text"), lit(p)).cast("long").as(s"n_$cls")
      } :+ rawClean.as("clean_text"): _*)
      .select(Seq(col("doc_id"), col("source")) ++
        T.PiiPatterns.map { case (cls, _, _) => col(s"n_$cls") } ++ Seq(
          T.PiiPatterns.map { case (_, p, _) =>
            regexp_count(col("clean_text"), lit(p)).cast("long")
          }.reduce(_ + _).as("n_residual"),
          md5(col("clean_text")).as("clean_md5"),
          length(col("clean_text")).cast("long").as("clean_len")): _*)
    assert(gotN.exceptAll(rawN).isEmpty && rawN.exceptAll(gotN).isEmpty,
      "guarded battery diverges from the raw battery on null text")
    // guarded counts on the null row are NULL, not 0 (the raw semantics)
    val nullRow = gotN.filter(col("doc_id") === 2)
      .select(T.PiiPatterns.map { case (cls, _, _) => col(s"n_$cls") }: _*)
      .collect().head
    assert((0 until T.PiiPatterns.size).forall(nullRow.isNullAt),
      "null text must yield NULL class counts, not 0")
  }

  test("planted-repetition law: fold algebra exact; line/para signals fire; verdict order") {
    // the fixture is single-line word salad, so the line/paragraph
    // signals (and the verdict's first-failing ordering across them)
    // are proven here on constructed docs with HAND-COMPUTED fractions
    // — this is also the direct check of the map-side RLE fold's
    // algebra (runs, tie-breaks, duplicated chars) against ground truth
    // rather than against the oracle's grouped-count form.
    val T = graft.operators.Text
    val docs = Seq(
      // A: "x y x y x" — bigrams "x y"×2/"y x"×2 (tie: topcov 6), den 9;
      //    trigram "x y x"×2 → topcov 10 > den (overlap; doc'd as may
      //    exceed 1); single line/para → zero line signals
      (1L, "x y x y x", "s"),
      // B: duplicated LINES dominate — dup_line_frac 2/4 must fire
      //    before the (also-over-threshold) top-2gram rule
      (2L, "aaa\nbbb\naaa\nccc", "s"),
      // C: duplicated PARAGRAPHS — para signals measured exactly
      (3L, "p1 q1\n\np2 q2\n\np1 q1", "s"),
      // D: 60 distinct words, one line — every signal ~0 → kept
      (4L, (0 until 60).map(i => s"word$i").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    def sig(id: Long, c: String): Double =
      T.repetitionProfile(docs).filter(col("doc_id") === id)
        .select(c).as[Double].head()
    def verdict(id: Long): String =
      T.repetitionRules(docs).filter(col("doc_id") === id)
        .select("verdict").as[String].head()
    val eps = 1e-6
    // A — n-gram folds, exactly
    assert(math.abs(sig(1, "top_2gram_char_frac") - 6.0 / 9.0) < eps)
    assert(math.abs(sig(1, "top_3gram_char_frac") - 10.0 / 9.0) < eps)
    assert(math.abs(sig(1, "dup_5gram_char_frac") - 0.0) < eps)
    assert(sig(1, "dup_line_frac") === 0.0)
    assert(verdict(1) === "top_2gram")
    // B — line signals fire and outrank the n-gram rules
    assert(math.abs(sig(2, "dup_line_frac") - 0.5) < eps)
    assert(math.abs(sig(2, "dup_line_char_frac") - 0.5) < eps)
    assert(verdict(2) === "dup_lines")
    // C — paragraph signals measured exactly: paras [p1 q1, p2 q2,
    //     p1 q1] → dupin 2/3, chars 2*5 / 15; its LINES duplicate too
    //     ("p1 q1"×2 of 5 lines incl. two empties — ""×2 also a dup run:
    //     dupin 4/5), so dup_lines fires first — ordering again
    assert(math.abs(sig(3, "dup_para_frac") - 2.0 / 3.0) < eps)
    assert(math.abs(sig(3, "dup_para_char_frac") - 10.0 / 15.0) < eps)
    assert(math.abs(sig(3, "dup_line_frac") - 4.0 / 5.0) < eps)
    assert(verdict(3) === "dup_lines")
    // D — nothing fires
    assert(verdict(4) === "kept")
  }

  test("law: native RLE expressions equal the SQL fold reference, field for field") {
    // the battery now computes its stats through rep_gram_stats /
    // rep_rle_stats (hash count-maps in one compiled pass); the
    // interpreted aggregate(array_sort(...)) fold stays in repFoldSql
    // as the value-identity REFERENCE. Pin them equal over the whole
    // sf0.001 fixture for every window width and for lines/paragraphs —
    // with the oracle's grouped-count form this makes three independent
    // algebras that must agree. The native struct's extra `chars` field
    // is pinned against the aggregate char-sum it replaced.
    val T = graft.operators.Text
    val base = Tables(spark, sf0001, "documents")
      .withColumn("w", expr(
        "split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')"))
      .withColumn("ls", split(col("text"), "\n", -1))
      .withColumn("ps", split(col("text"), "\n\n", -1))
    val arms = (2 to 10).map(n =>
      (s"g$n",
        call_function("rep_gram_stats", col("w"), lit(n)),
        expr(T.repFoldSql(T.repGramArrSql(n))))) ++ Seq(
      ("line", call_function("rep_rle_stats", col("ls")),
        expr(T.repFoldSql("ls"))),
      ("para", call_function("rep_rle_stats", col("ps")),
        expr(T.repFoldSql("ps"))))
    val checked = arms.foldLeft(base) { case (df, (tag, native, fold)) =>
      df.withColumn(s"nat_$tag", native).withColumn(s"ref_$tag", fold)
    }
    val mismatches = arms.map { case (tag, _, _) =>
      (col(s"nat_$tag.mx") =!= col(s"ref_$tag.mx")) ||
        (col(s"nat_$tag.topcov") =!= col(s"ref_$tag.topcov")) ||
        (col(s"nat_$tag.dupch") =!= col(s"ref_$tag.dupch")) ||
        (col(s"nat_$tag.dupin") =!= col(s"ref_$tag.dupin"))
    }.reduce(_ || _)
    assert(checked.filter(mismatches).count() === 0L,
      "native RLE stats diverged from the SQL fold reference")
    // chars == the aggregate char-sum the battery previously folded
    assert(checked.filter(
      col("nat_line.chars") =!=
        expr("aggregate(ls, 0L, (a, x) -> a + length(x))") ||
      col("nat_para.chars") =!=
        expr("aggregate(ps, 0L, (a, x) -> a + length(x))"))
      .count() === 0L, "chars diverged from the aggregate sum")
    // non-vacuity: the fixture genuinely repeats grams somewhere
    assert(checked.filter(col("nat_g2.dupin") > 0).count() > 0)
  }

  test("law: native entropy/mask expressions equal the SQL HOF references") {
    // round-14 verdict task 2: q_char_entropy and q_span_mask moved to
    // native char_entropy_stats / span_mask_stats; the interpreted HOF
    // forms stay in Text.charEntropyFoldSql / spanMaskKeepSql as the
    // value-identity references. Pin them equal over the whole fixture
    // — the entropy with EXACT double equality (the IEEE fold-order
    // claim: same term sequence, not just the same sum).
    val T = graft.operators.Text
    val ent = Tables(spark, sf0001, "documents")
      .filter(length(col("text")) > 0)
      .withColumn("sc",
        expr("array_sort(filter(split(text, ''), x -> x <> ''))"))
      .withColumn("nat", call_function("char_entropy_stats", col("text")))
    assert(ent.filter(
      col("nat.n_distinct") =!=
        size(array_distinct(col("sc"))).cast("long") ||
      col("nat.entropy") =!= expr(T.charEntropyFoldSql))
      .count() === 0L,
      "native char entropy diverged from the SQL fold reference")
    assert(ent.filter(col("nat.n_distinct") > 1).count() > 0, "vacuous")

    val ivs = T.spanIntervals(spark, sf0001)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start_tok").as("s"),
        col("end_tok").as("e"))).as("ivs"))
    val m = Tables(spark, sf0001, "documents")
      .withColumn("w", expr(
        "split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')"))
      .select("doc_id", "w")
      .join(ivs, Seq("doc_id"), "left")
      .withColumn("keep", expr(T.spanMaskKeepSql))
      .withColumn("nat", call_function("span_mask_stats", col("w"),
        coalesce(col("ivs"),
          expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)"))))
    assert(m.filter(
      col("nat.n_tokens") =!= size(col("w")).cast("long") ||
      col("nat.n_masked") =!=
        (size(col("w")) - size(col("keep"))).cast("long") ||
      col("nat.masked_text") =!=
        expr("array_join(transform(keep, ix -> element_at(w, ix)), ' ')"))
      .count() === 0L,
      "native span mask diverged from the SQL keep-filter reference")
    // non-vacuity: some doc is genuinely masked, some fully clean
    assert(m.filter(col("nat.n_masked") > 0).count() > 0)
    assert(m.filter(col("ivs").isNull && col("nat.n_masked") === 0)
      .count() > 0)
  }

  test("repetition signals: fixture non-vacuity and report partition") {
    // the synthetic corpus genuinely repeats bigrams (top-2gram > 0 for
    // some doc) — the oracled queries are not comparing constants
    val prof = SparkEntry.queries("q_repetition_signals")(spark, sf0001)
      .persist()
    try {
      assert(prof.filter(col("top_2gram_char_frac") > 0).count() > 0)
      // report partitions the corpus: per-source verdict counts sum to
      // the doc count
      val total = SparkEntry.queries("q_repetition_report")(spark, sf0001)
        .agg(sum("n_docs")).as[Long].head()
      assert(total === Tables(spark, sf0001, "documents").count())
    } finally { prof.unpersist(); () }
  }

  test("planted-chain law: q_corpus_clean stage attribution, each stage decides") {
    // at sf0.01 the word battery's <50-words rule fires on every
    // repetition-flagged doc (short word salad), so the 'repetition'
    // stage never decides on the fixture — planted docs prove the
    // chain's precedence on all three paths, with the PII count live
    // on the kept doc (id 13 ⇒ the deterministic email plant)
    val T = graft.operators.Text
    val keptWords = Seq("the", "of") ++
      (3 to 60).map(i => s"word$i")  // 60 words, 2 stop hits, mean>3
    val docs = Seq(
      (1L, "tiny doc", "s", "en"),                    // → quality
      (2L, "the rain and storm " +                    // → repetition
        Seq.fill(30)("repeat phrase").mkString(" "), "s", "en"),
      (13L, keptWords.mkString(" "), "s", "en"))      // → kept, email plant
      .toDF("doc_id", "text", "source", "lang")
    val out = T.corpusCleanProfile(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"), r.getAs[String]("stage"),
          r.getAs[Long]("n_pii")))).toMap
    assert(out(1L)._1 === "too_few_words" && out(1L)._2 === "quality")
    assert(out(2L)._1 === "top_2gram" && out(2L)._2 === "repetition")
    assert(out(13L)._1 === "kept" && out(13L)._2 === "kept")
    assert(out(13L)._3 >= 1L, "kept doc 13 must carry the planted email")
    assert(out(1L)._3 === 0L && out(2L)._3 === 0L)
  }

  test("law: q_corpus_clean equals the standalone batteries composed, doc for doc") {
    // the one-pass chain must agree with the three independent queries
    // it fuses — run both forms over sf0.001 and compare attribution
    val T = graft.operators.Text
    val aug = T.piiAugmentedDocs(Tables(spark, sf0001, "documents"))
    val chain = T.corpusCleanProfile(Tables(spark, sf0001, "documents"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"), r.getAs[String]("stage")))).toMap
    val gv = T.gopherProfile(aug).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    val rv = T.repetitionRules(aug).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(chain.keySet === gv.keySet)
    for ((id, (verdict, stage)) <- chain) {
      val expected =
        if (gv(id) != "kept") (gv(id), "quality")
        else if (rv(id) != "kept") (rv(id), "repetition")
        else ("kept", "kept")
      assert((verdict, stage) === expected, s"doc $id attribution diverged")
    }
  }

  test("law: the PII door equals the batch scrub row-for-row") {
    val batch = SparkEntry.queries("q_pii_redact")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val door = SparkEntry.queries("q_stream_pii_redact")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(door === batch)
    assert(door.nonEmpty)
  }

  test("law: bounded-heap top-k-per-group is row-identical to the window form") {
    val byWindow = SparkEntry.queries("q_topk_per_group")(spark, sf0001)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .collect().map(_.toSeq).toSet
    val byHeap = SparkEntry.queries("q_topk_per_group_heap")(spark, sf0001)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .collect().map(_.toSeq).toSet
    assert(byHeap === byWindow)
    assert(byHeap.nonEmpty)
  }

  test("law: heap domain cap is row-identical to the window form") {
    val byWindow = SparkEntry.queries("q_domain_cap")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val byHeap = SparkEntry.queries("q_domain_cap_heap")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(byHeap === byWindow)
    assert(byHeap.nonEmpty)
  }

  test("law: TopKPairAgg trims to k by (value desc, id asc) through reduce and merge") {
    val agg = new Holistic.TopKPairAgg(3)
    val items = Seq((5.0, 2L), (5.0, 1L), (7.0, 9L), (1.0, 4L), (6.0, 3L), (5.0, 0L))
    // any reduce/merge interleaving yields the same top-3 and never a
    // buffer over k
    val left = items.take(3).foldLeft(agg.zero)(agg.reduce)
    val right = items.drop(3).foldLeft(agg.zero)(agg.reduce)
    assert(left.size <= 3 && right.size <= 3)
    val merged = agg.merge(left, right)
    assert(merged === Seq((7.0, 9L), (6.0, 3L), (5.0, 0L)))
    val sequential = items.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(sequential) === merged)
  }

  test("law: degree-oriented triangle count equals brute-force on a random graph") {
    val rnd = new scala.util.Random(42)
    val n = 40
    val edges = (for {
      u <- 0 until n; v <- (u + 1) until n
      if rnd.nextDouble() < 0.15
    } yield (u.toLong, v.toLong)).toSeq
    val eset = edges.toSet
    val brute = (for {
      a <- 0 until n; b <- (a + 1) until n; c <- (b + 1) until n
      if eset((a, b)) && eset((a, c)) && eset((b, c))
    } yield 1).size
    val wedges = {
      val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (_, g) => g.size.toLong }
      deg.map(d => d * (d - 1) / 2).sum
    }
    val row = Joins.triangleStats(edges.toDF("u", "v")).head()
    assert(row.getAs[Long]("n_triangles") === brute.toLong)
    assert(row.getAs[Long]("n_edges") === edges.size.toLong)
    assert(row.getAs[Long]("n_wedges") === wedges)
    assert(brute > 0, "fixture graph must actually contain triangles")
  }

  test("MAD outlier flagging finds planted anomalies and spares the bulk") {
    // tight cluster around 10 with four planted anomalies
    val vals = (1 to 200).map(i => (i.toLong, "a", 10.0 + (i % 7) * 0.1)) ++
      Seq((901L, "a", 500.0), (902L, "a", -400.0),
        (903L, "b", 1.0), (904L, "b", 1.0)) // group b: all identical -> MAD 0
    val out = Holistic.madOutliers(vals.toDF("event_id", "event_type", "value"))
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Int]("is_outlier")).toMap
    assert(out(901L) === 1 && out(902L) === 1)
    assert((1 to 200).forall(i => out(i.toLong) === 0))
    // MAD 0 => threshold 0, identical values have dev 0 -> not outliers
    assert(out(903L) === 0 && out(904L) === 0)
  }

  test("law: DSIR selection skews toward the target (en) distribution") {
    // sf0.001 is too small for a 100-doc selection to show skew (it
    // would select the whole corpus), so this law runs at sf0.01:
    // 500 docs, 218 en. If importance weighting works, the selected
    // 100 must be substantially more English than the pool; md5-Gumbel
    // noise makes the sample diverse but cannot erase the weight gap.
    val sf001dir = "/root/testdata/sf0.01" // NOT SparkSpec's sf0001 (sf0.001)
    val sel = graft.operators.Text.queries("q_dsir")(spark, sf001dir).collect()
    assert(sel.length === 100, "selection size")
    assert(sel.map(_.getAs[Long]("doc_id")).distinct.length === 100,
      "selected docs must be unique")
    val enSel = sel.count(_.getAs[String]("lang") == "en").toDouble / sel.length
    val pool = Tables(spark, sf001dir, "documents").groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enPool = pool("en").toDouble / pool.values.sum
    assert(enSel > enPool + 0.15,
      f"selection en-share $enSel%.2f must exceed pool share $enPool%.2f by a margin")
  }

  test("law: temperature mixing keeps the smallest source whole, never upsamples") {
    val rows = graft.operators.Text.queries("q_mixture_temperature")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val byTok = rows.sortBy(_.getAs[Long]("n_tokens"))
    assert(byTok.head.getAs[Long]("rate_ppm") === 1000000L,
      "smallest source must keep everything")
    assert(byTok.head.getAs[Long]("kept_docs") === byTok.head.getAs[Long]("n_docs"))
    for (r <- rows) {
      assert(r.getAs[Long]("kept_docs") <= r.getAs[Long]("n_docs"))
      val rate = r.getAs[Long]("rate_ppm")
      assert(rate > 0L && rate <= 1000000L)
    }
    val pairs = byTok.map(r =>
      (r.getAs[Long]("n_tokens"), r.getAs[Long]("rate_ppm"))).toSeq
    assert(pairs.sliding(2).forall {
      case Seq((t1, r1), (t2, r2)) => t1 == t2 || r2 <= r1
      case _ => true
    }, s"rate must be non-increasing in source size: $pairs")
  }

  test("law: exact AUC is 1 on separable, 0 on inverted, 0.5 on constant scores") {
    def auc(rows: Seq[(Double, Boolean)]): Double =
      Holistic.aucExact(rows.toDF("s", "y")).head().getAs[Double]("auc")
    val pos = (1 to 50).map(i => (100.0 + i, true))
    val neg = (1 to 70).map(i => (i.toDouble, false))
    assert(auc(pos ++ neg) === 1.0)
    assert(auc(pos.map { case (s, _) => (-s, true) } ++
      neg.map { case (s, _) => (-s, false) }) === 0.0)
    assert(auc((1 to 30).map(_ => (5.0, true)) ++
      (1 to 90).map(_ => (5.0, false))) === 0.5)
  }

  test("law: AUC tie-averaging matches the pair-counting definition") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { _ =>
      (rnd.nextInt(12).toDouble, rnd.nextBoolean()) // heavy ties
    }
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val pairs = for (p <- pos; q <- neg)
      yield if (p > q) 1.0 else if (p == q) 0.5 else 0.0
    val expected = pairs.sum / (pos.size.toLong * neg.size)
    val got = Holistic.aucExact(rows.toDF("s", "y")).head().getAs[Double]("auc")
    assert(math.abs(got - expected) < 1e-12)
  }

  test("law: 2-pass histogram quantiles equal the sorted-array type-7 quantile") {
    val rnd = new scala.util.Random(11)
    // heavy duplicates + a skewed tail, the histogram's worst cases
    val vals = (1 to 5000).map(_ => (rnd.nextInt(40) * 1.5) + (if (rnd.nextBoolean()) 1e4 * rnd.nextDouble() else 0.0))
    val probs = Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0)
    val got = Holistic.exactQuantiles2Pass(vals.toDF("x"), probs, buckets = 64)
    val sorted = vals.sorted.toArray
    val expect = probs.map { p =>
      val h = p * (sorted.length - 1)
      val lo = sorted(math.floor(h).toInt); val hi = sorted(math.ceil(h).toInt)
      lo + (hi - lo) * (h - math.floor(h))
    }
    probs.indices.foreach { i =>
      assert(got(i) === expect(i), s"p=${probs(i)}: got ${got(i)} expect ${expect(i)}")
    }
    // degenerate: constant column short-circuits
    assert(Holistic.exactQuantiles2Pass(Seq.fill(10)(7.5).toDF("x"), Seq(0.5)) === Seq(7.5))
  }

  test("law: grouped exactQuantilesBy equals per-group sorted-array type-7 AND `percentile`") {
    val rnd = new scala.util.Random(23)
    // 3 uneven groups, duplicates, one constant group, plus nulls that
    // percentile semantics must exclude
    val rows = (1 to 4000).map { i =>
      val g = Seq("a", "b", "c")(rnd.nextInt(3))
      val v: java.lang.Double =
        if (i % 97 == 0) null
        else if (g == "c") 42.0
        else rnd.nextInt(50) * 0.25 + (if (rnd.nextBoolean()) 500.0 else 0.0)
      (g, v)
    }
    val df = rows.toDF("g", "v")
    val probs = Seq(0.1, 0.5, 0.9)
    val got = Holistic.exactQuantilesBy(df, Seq("g"), "v", probs, buckets = 64)
      .map(gq => gq.key.head.asInstanceOf[String] -> gq.qs).toMap
    val byG = rows.filter(_._2 != null).groupBy(_._1)
      .view.mapValues(_.map(_._2.doubleValue).sorted.toArray).toMap
    for ((g, sorted) <- byG; (p, i) <- probs.zipWithIndex) {
      val h = p * (sorted.length - 1)
      val lo = sorted(math.floor(h).toInt); val hi = sorted(math.ceil(h).toInt)
      val expect = lo + (hi - lo) * (h - math.floor(h))
      assert(got(g)(i) === expect, s"g=$g p=$p: got ${got(g)(i)} expect $expect")
    }
    // and the same values `percentile` itself produces (the aggregate the
    // walk replaces at corpus grain)
    val viaPercentile = df.groupBy("g")
      .agg(org.apache.spark.sql.functions.expr(
        "percentile(v, array(0.1, 0.5, 0.9))").as("qs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    for (g <- byG.keys; i <- probs.indices)
      assert(got(g)(i) === viaPercentile(g)(i),
        s"g=$g p=${probs(i)}: walk ${got(g)(i)} vs percentile ${viaPercentile(g)(i)}")
  }

  test("law: exactQuantilesBy handles a NULL group key (histogram join is null-safe)") {
    // the histogram pass used to join bounds with a plain equi-join
    // (null keys drop out) while the per-group probe matched with <=>;
    // a null-keyed group with n>0 and lo<hi then crashed on
    // histByKey(key). Both passes now agree on <=>.
    val rows: Seq[(String, java.lang.Double)] =
      (1 to 200).map(i => ("a", java.lang.Double.valueOf(i * 0.5))) ++
        (1 to 150).map(i => (null: String, java.lang.Double.valueOf(i * 2.0)))
    val df = rows.toDF("g", "v")
    val probs = Seq(0.25, 0.5, 0.75)
    val got = Holistic.exactQuantilesBy(df, Seq("g"), "v", probs, buckets = 64)
      .map(gq => Option(gq.key.head).map(_.toString) -> gq.qs).toMap
    for ((gOpt, vals) <- Seq(Some("a") -> (1 to 200).map(_ * 0.5),
        None -> (1 to 150).map(_ * 2.0));
        (p, i) <- probs.zipWithIndex) {
      val sorted = vals.sorted.toArray
      val h = p * (sorted.length - 1)
      val lo = sorted(math.floor(h).toInt); val hi = sorted(math.ceil(h).toInt)
      val expect = lo + (hi - lo) * (h - math.floor(h))
      assert(got(gOpt)(i) === expect, s"g=$gOpt p=$p: got ${got(gOpt)(i)}")
    }
  }

  test("law: exactQuantilesBy rejects reserved __gk*/__lo/__w/__b/__x column names loudly") {
    // the histogram join manufactures these names; a caller's colliding
    // key used to alias-collide SILENTLY in the null-safe join
    val df = Seq((1, 2.0)).toDF("__gk0", "v")
    val e = intercept[IllegalArgumentException] {
      Holistic.exactQuantilesBy(df, Seq("__gk0"), "v", Seq(0.5))
    }
    assert(e.getMessage.contains("__gk0"))
    val df2 = Seq((1, 2.0)).toDF("g", "__w")
    val e2 = intercept[IllegalArgumentException] {
      Holistic.exactQuantilesBy(df2, Seq("g"), "__w", Seq(0.5))
    }
    assert(e2.getMessage.contains("__w"))
  }

  test("law: quantiles stay exact when the group count forces the bucket cap down") {
    // 2000 groups drive effBuckets from 8192 down to (1<<22)/2000 ≈ 2097
    // so the collected histogram stays <= ~4.2M rows; exactness must be
    // bucket-count-independent (fewer buckets only means more narrowing)
    val rnd = new scala.util.Random(41)
    val rows = for (g <- 1 to 2000; _ <- 1 to 20)
      yield (g, rnd.nextInt(1000) * 0.125)
    val df = rows.toDF("g", "v")
    val got = Holistic.exactQuantilesBy(df, Seq("g"), "v", Seq(0.5))
      .map(gq => gq.key.head.asInstanceOf[Int] -> gq.qs.head).toMap
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toArray)
    for ((g, sorted) <- byG) {
      val h = 0.5 * (sorted.length - 1)
      val lo = sorted(math.floor(h).toInt); val hi = sorted(math.ceil(h).toInt)
      val expect = lo + (hi - lo) * (h - math.floor(h))
      assert(got(g) === expect, s"g=$g: got ${got(g)} expect $expect")
    }
  }

  test("law: rankValue's degenerate-bucket window fallback returns the exact order statistic") {
    // >BucketCap near-identical subnormals: the recursion's sub-bucket
    // width underflows to 0 with mn < mx still true, and the needed rank
    // exceeds the TakeOrdered cap — the one path that plans the
    // deliberate single-partition row_number probe (invisible to the
    // PlanShapeSpec sweep; see Holistic.rankValue). 35000×minpos +
    // 34999×2·minpos + one 1.0 outlier keeps the TOP-level histogram
    // healthy while bucket 0 degenerates.
    val minpos = java.lang.Double.MIN_VALUE
    val vals = Seq.fill(35000)(minpos) ++ Seq.fill(34999)(2 * minpos) ++ Seq(1.0)
    // h = 0.999·69999 = 69929.001 → ranks 69930/69931, both 2·minpos,
    // in-bucket rank > BucketCap (65536)
    val got = Holistic.exactQuantiles2Pass(vals.toDF("x"), Seq(0.999))
    assert(got === Seq(2 * minpos), s"got $got")
  }

  test("law: quantiles stay exact (and driver-bounded) under 80%-one-value skew") {
    // 80k copies of one value + 20k uniform: the dominant value's bucket
    // exceeds the BucketCap collect bound, forcing the histogram
    // recursion — the pre-fix code would ship the whole 80k-row bucket
    // to the driver
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(80000)(5.0) ++ (1 to 20000).map(_ => rnd.nextDouble() * 100.0)
    val probs = Seq(0.0, 0.1, 0.5, 0.79, 0.81, 0.95, 1.0)
    val got = Holistic.exactQuantiles2Pass(vals.toDF("x"), probs, buckets = 64)
    val sorted = vals.sorted.toArray
    val expect = probs.map { p =>
      val h = p * (sorted.length - 1)
      val lo = sorted(math.floor(h).toInt); val hi = sorted(math.ceil(h).toInt)
      lo + (hi - lo) * (h - math.floor(h))
    }
    probs.indices.foreach { i =>
      assert(got(i) === expect(i), s"p=${probs(i)}: got ${got(i)} expect ${expect(i)}")
    }
  }

  test("BM25 fixture output: 100 rows, every hit contains a query term, scores sorted") {
    val out = SparkEntry.queries("q_bm25")(spark, sf0001)
      .orderBy(col("bm25").desc, col("doc_id")).collect()
    assert(out.length === 100)
    assert(out.forall(_.getAs[Double]("bm25") > 0.0))
    val hitIds = out.map(_.getAs[Long]("doc_id")).toSet
    val withTerm = Tables(spark, sf0001, "documents")
      .filter(lower(col("text")).rlike("\\b(hash|join|query|vector)\\b"))
      .select("doc_id").as[Long].collect().toSet
    assert(hitIds.subsetOf(withTerm))
  }

  test("perplexity fixture output: finite, > 1, one row per multi-token doc") {
    val out = SparkEntry.queries("q_perplexity")(spark, sf0001).collect()
    val nMulti = Tables(spark, sf0001, "documents")
      .filter(size(filter(split(col("text"), "\\s+"), t => length(t) > 0)) >= 2)
      .count()
    assert(out.length.toLong === nMulti)
    assert(out.forall { r =>
      val p = r.getAs[Double]("ppl"); !p.isNaN && !p.isInfinite && p > 1.0
    })
  }

  test("centroid similarity: one row per label pair, cosines in [-1, 1]") {
    val nLabels = Tables(spark, sf0001, "embeddings")
      .select("label").distinct().count().toInt
    val out = SparkEntry.queries("q_centroid_sim")(spark, sf0001).collect()
    assert(out.length === nLabels * (nLabels - 1) / 2)
    assert(out.forall { r =>
      val c = r.getAs[Double]("cos_sim"); c >= -1.0 && c <= 1.0
    })
  }
}
