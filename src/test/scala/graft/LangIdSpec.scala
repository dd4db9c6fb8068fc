package graft

import org.apache.spark.sql.functions._

import graft.operators.LangId

/** Conformance contract for the LangIdModel boundary (the repo's third
  * swap-ready contract after MediaCodec and Tokenizer) — instance-
  * agnostic laws both real instances pass, plus the trigram instance's
  * planted-separability semantics and its store-vs-fresh law.
  *
  * The fixture carries essentially NO language signal (all five langs
  * share one synthetic vocabulary): the stopword heuristic scores
  * majority-class and trigram profiles are near-uniform noise — so
  * accuracy over the fixture is deliberately NOT a law here; the
  * planted corpus with genuinely distinct character distributions is
  * where classification semantics are proven.
  */
class LangIdSpec extends SparkSpec {
  import spark.implicits._

  test("conformance: every instance is total, in-domain, deterministic") {
    val nDocs = Tables(spark, sf0001, "documents").count()
    val fixtureLangs = Tables(spark, sf0001, "documents")
      .select("lang").distinct().as[String].collect().toSet
    for (m <- LangId.instances) {
      val p = m.predictions(spark, sf0001).persist()
      try {
        // totality + uniqueness: exactly one row per document
        assert(p.count() === nDocs, s"${m.name}: not one row per doc")
        assert(p.select("doc_id").distinct().count() === nDocs,
          s"${m.name}: duplicate doc_id rows")
        assert(p.filter(col("predicted").isNull).count() === 0L,
          s"${m.name}: null prediction")
        // domain: stopword emits its fixed 4; trigram any TRAINED label
        val domain = m match {
          case LangId.StopwordLangId => Set("en", "es", "de", "fr")
          case LangId.TrigramLangId  => fixtureLangs
        }
        val emitted = p.select("predicted").distinct().as[String]
          .collect().toSet
        assert(emitted.subsetOf(domain),
          s"${m.name}: out-of-domain labels ${emitted -- domain}")
        // determinism: an independent second run is row-identical
        val again = m.predictions(spark, sf0001)
          .collect().map(_.toSeq).toSet
        assert(p.collect().map(_.toSeq).toSet === again,
          s"${m.name}: predictions not deterministic")
      } finally { p.unpersist(); () }
    }
  }

  test("boundary swap: the trigram instance reaches labels the stopword one cannot") {
    // the data-driven domain is the point of the swap — the fixture has
    // zh-labeled docs, the stopword heuristic can never emit zh, and the
    // trained instance does (the fixture corpus IS its training set, so
    // every label has a profile)
    val trig = LangId.TrigramLangId.predictions(spark, sf0001)
    assert(trig.filter(col("predicted") === "zh").count() > 0,
      "trigram instance never predicts zh on a zh-labeled corpus")
    val stop = LangId.StopwordLangId.predictions(spark, sf0001)
    assert(stop.filter(col("predicted") === "zh").count() === 0L)
  }

  test("planted-separability law: trigram classification on held-out docs, exactly") {
    // three planted 'languages' with disjoint character distributions;
    // train on 4 docs each, classify 2 HELD-OUT docs each — all six
    // must classify correctly. This is the semantics the fixture cannot
    // exercise (its langs share one vocabulary).
    def doc(words: Seq[String], n: Int): String =
      (0 until n).map(i => words(i % words.size)).mkString(" ")
    val aa = Seq("abba", "bacca", "cabad", "dacab", "badea", "eacbd")
    val mm = Seq("mnomp", "nompq", "opqmn", "pqmno", "qmnop", "mpqon")
    val xx = Seq("xyzwx", "yzwxv", "zwxvy", "wxvyz", "vyzwx", "xvwzy")
    val train = (for {
      (ws, lang) <- Seq(aa -> "aa", mm -> "mm", xx -> "xx")
      i <- 0 until 4
    } yield (lang + i, doc(ws.drop(i % 2), 40 + i), lang))
      .zipWithIndex.map { case ((_, t, l), id) => (id.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
    val heldOut = Seq(
      (100L, doc(aa.reverse, 37), "aa"),
      (101L, doc(aa.tail, 43), "aa"),
      (200L, doc(mm.reverse, 37), "mm"),
      (201L, doc(mm.tail, 43), "mm"),
      (300L, doc(xx.reverse, 37), "xx"),
      (301L, doc(xx.tail, 43), "xx"))
      .toDF("doc_id", "text", "lang")
    val profiles = LangId.trainProfiles(train)
    val out = LangId.predictionsOf(
        LangId.classify(heldOut.select("doc_id", "text"), profiles))
      .as[(Long, String)].collect().toMap
    val truth = heldOut.select("doc_id", "lang").as[(Long, String)]
      .collect().toMap
    for ((id, lang) <- truth)
      assert(out(id) === lang, s"held-out doc $id misclassified")
  }

  test("law: native trigram rank profile equals the SQL explode+window derivation") {
    // classify's doc side moved to the native trigram_rank_profile
    // expression (one compiled pass per row) — pin it row-identical to
    // the SQL chain it replaced (explode trigrams → (doc, tg) count →
    // per-doc (cnt desc, tg asc) rank window ≤ K) over the whole
    // fixture, the same reference-vs-native convention as the
    // repetition battery's RLE law. The profile store (trained via the
    // SQL path at lang grain) is a third agreement point through the
    // store == fresh law below.
    val docs = Tables(spark, sf0001, "documents")
    val nt = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val native = docs.select(col("doc_id"),
        explode(call_function("trigram_rank_profile", nt, lit(LangId.K))).as("p"))
      .select(col("doc_id"), col("p.tg").as("tg"), col("p.rank").as("dr"))
      .collect().map(_.toSeq).toSet
    val sqlForm = docs
      .select(col("doc_id").as("k"), nt.as("_nt"))
      .select(col("k"), explode(
        when(length(col("_nt")) >= 3,
          expr("transform(sequence(1, length(_nt) - 2), i -> substring(_nt, i, 3))"))
          .otherwise(array())).as("tg"))
      .groupBy("k", "tg").agg(count(lit(1)).as("cnt"))
      .withColumn("dr", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k")
          .orderBy(col("cnt").desc, col("tg").asc)).cast("long"))
      .filter(col("dr") <= LangId.K)
      .select(col("k").as("doc_id"), col("tg"), col("dr"))
      .collect().map(_.toSeq).toSet
    assert(native === sqlForm,
      "native trigram profile diverged from the SQL derivation")
    assert(native.nonEmpty)
  }

  test("law: classify is total on null and sub-3-char texts — dist 0, lang-ascending tie") {
    // the round-14 review caught the native rewrite dropping the
    // null-text case (size(null profile) is NULL under ANSI, poisoning
    // dist) — pin the old left-join/coalesce semantics: null and
    // sub-3-char docs have every distance 0 and take the
    // lang-ascending tie-break, one row per trained language
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, null),
      org.apache.spark.sql.Row(2L, "ab"),
      org.apache.spark.sql.Row(3L, "abcabcabc"))
    val docs = spark.createDataFrame(rows, schema)
    val profiles = LangId.trainProfiles(Seq(
      ("bb", "abcabc"), ("aa", "xyzxyz")).toDF("lang", "text"))
    val out = LangId.classify(docs, profiles)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getString(3)))
    // totality: 3 docs × 2 langs
    assert(out.length === 6)
    for ((id, _, dist, pred) <- out if id <= 2L) {
      assert(dist === 0L, s"doc $id dist $dist, expected 0")
      assert(pred === "aa", s"doc $id predicted $pred, expected aa (tie)")
    }
    // the real doc matches bb's profile exactly and must say so
    assert(out.filter(_._1 == 3L).forall(_._4 == "bb"))
  }

  test("law: fused predictionsOf equals the distinct derivation") {
    // round-14 verdict task 5: predictionsOf now selects the long-form
    // row whose lang equals the winning predicted (a filter on the
    // argmin window's own output) instead of paying a second full
    // (doc_id, predicted) distinct shuffle — pin the two derivations
    // row-identical over the whole fixture, including the totality
    // edges (null / sub-3-char docs, where every lang ties at dist 0
    // and exactly the lang-ascending winner row survives the filter)
    val docs = Tables(spark, sf0001, "documents").select("doc_id", "text")
      .unionByName(Seq((9000001L, "ab")).toDF("doc_id", "text"))
    val profiles = LangId.ensureProfileStore(spark, sf0001)
    val long = LangId.classify(docs, profiles)
    val fused = LangId.predictionsOf(long)
      .as[(Long, String)].collect().sorted.toSeq
    val viaDistinct = long.select("doc_id", "predicted").distinct()
      .as[(Long, String)].collect().sorted.toSeq
    assert(fused === viaDistinct)
    assert(fused.map(_._1).distinct.size === fused.size,
      "fused projection emitted duplicate docs")
    assert(fused.nonEmpty)
  }

  test("law: langprof_v1 store equals a fresh derivation bit-identically") {
    val stored = LangId.ensureProfileStore(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val fresh = LangId.trainProfiles(Tables(spark, sf0001, "documents"))
      .collect().map(_.toSeq).toSet
    assert(stored === fresh)
    assert(stored.nonEmpty)
    // rank depth honored per language
    val maxRank = LangId.ensureProfileStore(spark, sf0001)
      .agg(max("rank")).head().getLong(0)
    assert(maxRank <= LangId.K)
  }
}
