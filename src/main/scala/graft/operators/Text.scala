package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.mr.MapReduceJob

/** Text-analysis inventory: word count (the reference's flagship program —
  * example.py:12-18), token counting, quality scoring, language-ID
  * heuristic, and document fingerprinting. All stay in whole-stage codegen
  * (built-in string/array functions, no UDFs).
  */
object Text {

  private val stopEn = Seq("the", "and", "of", "to", "is", "a", "in", "on")
  private val stopEs = Seq("el", "la", "de", "que", "y", "un", "en", "los")
  private val stopDe = Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit")
  private val stopFr = Seq("le", "la", "et", "les", "des", "une", "dans", "est")

  private def countIn(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isin(words: _*)))

  private def sqlCountIn(list: String): String =
    s"CAST(len(list_filter(w, t -> t IN ($list))) AS INTEGER)"

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  /** The data-recipe sampling rule, shared by the batch sampler
    * (q_mixture_sample) and its streaming twin (q_stream_sample) — ONE
    * definition so the documented "streamed kept set equals the batch
    * sample exactly" guarantee can't silently diverge when rates change.
    */
  def mixtureRate: Column =
    when(col("source").isin("src0", "src1"), lit(80))
      .when(col("source") === "src2", lit(50))
      .otherwise(lit(20))

  /** Reingest-stable md5 bucket in [0, 100) keyed on doc_id. */
  def mixtureBucket: Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast(LongType) % 100

  /** The lang-id predictor oracle, shared by q_lang_id and the
    * q_lang_confusion evaluation (one definition of the CASE tie-break
    * chain — an edit here updates both oracles together, mirroring the
    * Spark side's queries("q_lang_id") reuse).
    */
  val langIdOracleSql: String =
    s"""WITH d AS (
           SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
         sc AS (
           SELECT doc_id,
             ${sqlCountIn(sqlList(stopEn))} AS s_en,
             ${sqlCountIn(sqlList(stopEs))} AS s_es,
             ${sqlCountIn(sqlList(stopDe))} AS s_de,
             ${sqlCountIn(sqlList(stopFr))} AS s_fr
           FROM d)
         SELECT doc_id, s_en, s_es, s_de, s_fr,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS predicted
         FROM sc"""

  /** The BM25 oracle, shared by q_bm25 and the q_ndcg evaluation that
    * re-ranks its output (one definition of the scorer).
    */
  val bm25OracleSql: String =
    """WITH tok AS (
           SELECT doc_id, word FROM (
             SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
             FROM documents)
           WHERE length(word) > 0),
         dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok
                WHERE word IN ('hash','join','query','vector') GROUP BY word),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM tok
                WHERE word IN ('hash','join','query','vector')
                GROUP BY doc_id, word),
         sc AS (
           SELECT tf.doc_id, tf.word,
             ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
               (tf.tf * 2.2) /
               (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl /
                 (CAST(st.sum_dl AS DOUBLE) / st.n_docs))) AS s
           FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN st),
         pv AS (
           SELECT doc_id,
             coalesce(sum(s) FILTER (WHERE word = 'hash'),   0.0) AS s1,
             coalesce(sum(s) FILTER (WHERE word = 'join'),   0.0) AS s2,
             coalesce(sum(s) FILTER (WHERE word = 'query'),  0.0) AS s3,
             coalesce(sum(s) FILTER (WHERE word = 'vector'), 0.0) AS s4
           FROM sc GROUP BY doc_id)
         SELECT doc_id, round(s1 + s2 + s3 + s4, 6) AS bm25
         FROM pv ORDER BY bm25 DESC, doc_id LIMIT 100"""

  /** The matching DuckDB oracle, shared verbatim by both samplers. */
  val mixtureOracleSql: String =
    """SELECT doc_id, source,
           CAST(CASE WHEN source IN ('src0','src1') THEN 80
                     WHEN source = 'src2' THEN 50
                     ELSE 20 END AS INTEGER) AS rate
         FROM documents
         WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
               < CASE WHEN source IN ('src0','src1') THEN 80
                      WHEN source = 'src2' THEN 50
                      ELSE 20 END"""

  /** Whitespace-normalized lowercase text / its space-split tokens — ONE
    * definition for every Text-family tokenize (spanHashes, winnowing,
    * fingerprinting) and mirrored verbatim by each DuckDB oracle's
    * regexp_replace CTE; a normalization change edited here flows to all
    * consumers together instead of silently desynchronizing them
    * (Dedup.norm is the same expression for the gram family).
    */
  private def normText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(lower(c), "\\s+", " "))
  private def normTokens(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    split(normText(c), " ")

  /** (doc_id, gh) rows: one md5 hash per 8-token span of the
    * whitespace-normalized text — the shared tokenize+shingle pass
    * behind q_span_dedup, the base span store, and the incremental
    * delta query. Map-side only (array HOFs + explode), no shuffle.
    */
  private[graft] def spanHashes(docs: DataFrame): DataFrame = {
    val k = 8 // span width in tokens
    // spread-gated before the CPU-bound tokenize + per-span md5 explode
    // (round-16): a one-task fixture scan serializes the whole pass; a
    // door batch (RDD-backed, no input files) or an at-scale multi-file
    // corpus passes through untouched (see Sources.spreadScanForCpu)
    Sources.spreadScanForCpu(docs)
      .withColumn("w", normTokens(col("text")))
      .filter(size(col("w")) >= k)
      // native codegen twin of transform(sequence(...), i ->
      // md5(array_join(slice(w, i, k), ' '))) — identical md5 values
      // (oracles + the persisted span store unchanged), none of the
      // per-span lambda/slice/join-string interpreter overhead
      .select(col("doc_id"), explode(
        call_function("span_md5s", col("w"))).as("gh"))
  }

  /** One-time base-corpus span-hash store (doc_id % 2 == 0 half, the
    * q_dedup_cross convention): the DISTINCT 8-token span hashes of the
    * base, persisted once per sf dir. The incremental query touches the
    * base corpus ONLY through this compact store — the daily-delta cost
    * is O(delta spans + hits), independent of base size, exactly like
    * the minhash signature store (Dedup.ensureBaseSignatureStore).
    */
  def ensureSpanStore(s: SparkSession, dir: String): DataFrame =
    Sources.parquetStore(s, dir, "span_base_v1") {
      spanHashes(Tables(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0))
        .select("gh").distinct()
    }

  /** Per-document base-duplication profile of `docs` (doc_id, text, ...)
    * against a DISTINCT base span-hash frame — the q_span_dedup_cross
    * computation, factored so the streaming ingest variant
    * (Streaming.q_stream_span_dedup) applies the identical profile to
    * each micro-batch. Docs under 8 tokens produce no row (no spans),
    * matching the oracle's len(w) >= 8 guard.
    */
  def spanProfileAgainst(docs: DataFrame, base: DataFrame): DataFrame =
    spanProfileOfSpans(spanHashes(docs), base)

  /** [[spanProfileAgainst]] over PRECOMPUTED span rows — factored so the
    * growing door can span-hash its batch once and feed both the profile
    * and the store-append from the same (persisted) frame. */
  private[graft] def spanProfileOfSpans(delta: DataFrame,
      base: DataFrame): DataFrame = {
    val b = base.select(col("gh").as("bgh"))
    delta.join(b, col("gh") === col("bgh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), count(col("bgh")).as("n_base_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_base_dup_spans"),
        round(col("n_base_dup_spans").cast(DoubleType) / col("n_spans"), 6)
          .as("base_dup_ratio"))
  }

  /** The rows of `base` (a DISTINCT single-column `gh` span store) that
    * MIGHT appear in `delta`'s span set — a bloom semi-prune of the
    * store side before any join (round-13 verdict task 4: the span-grow
    * door's premium grew with scale because base ∪ grow shuffled
    * UNPRUNED into every per-batch profile join). The bloom is built
    * over the BATCH's hashes (batch-sized, broadcast as a one-row scalar
    * subquery — the q_dedup_bloom idiom), so the store side is filtered
    * during its scan and only might-match rows (true hits + ~0.05%
    * false positives at 16 bits/item) reach the shuffle: the join input
    * becomes batch-bounded regardless of store size. RESULT-TRANSPARENT
    * for both consumers, by the no-false-negative property: every store
    * row equal to some batch gh passes the bloom, so (a) the profile's
    * left-join match counts are unchanged (false positives fail the
    * exact equi-join), and (b) the not-yet-seen anti-join is unchanged
    * (all true matches retained ⇒ the same batch rows are dropped).
    * Oracles and the three grow laws are untouched.
    */
  private[graft] def bloomPruneSpans(delta: DataFrame,
      base: DataFrame, knownDeltaRows: Long = -1L): DataFrame = {
    // sizing rides the batch: an upper bound (total, not distinct, span
    // rows) only over-sizes the bloom and lowers the false-positive
    // rate. Callers that already counted the (persisted) batch pass it
    // in — the door was paying a duplicate count job per micro-batch.
    val deltaRows = if (knownDeltaRows >= 0L) knownDeltaRows else delta.count()
    if (deltaRows == 0L) return base.limit(0) // empty batch: nothing can match
    val items = math.max(10000L, deltaRows)
    val bits = items * 16L
    // Built by a direct treeAggregate over the sketch-library
    // BloomFilter — NEITHER bloom_filter_agg NOR stat.bloomFilter: the
    // SQL aggregate silently clamps BOTH sizing arguments to the
    // session runtime-bloom-filter confs (default 4M items / 64Mi bits
    // in Spark 4.1), so a 40M-span batch would saturate to fp ~1 and
    // the "prune" would degrade toward a pass-through while still
    // paying the fold — and in Spark 4.1.2 stat.bloomFilter is just
    // Column.internalFn("bloom_filter_agg", ...), so it clamps
    // identically (round-15 review: the first cut of this fix rested
    // on the opposite assumption; verified against the shipped
    // spark-sql-api bytecode). The earlier raise-and-restore of the
    // confs mutated SHARED session state (round-14 ADVICE); the
    // treeAggregate takes the sizing directly, touches no conf, and
    // runs distributed. Wire format: sketch.BloomFilter.writeTo is
    // exactly what BloomFilterMightContain.readFrom expects, and
    // putLong/mightContainLong are the consistent pair, so xxhash64 on
    // both sides keeps the no-false-negative property bit-for-bit.
    val hashes = delta.select(xxhash64(col("gh")).as("h"))
      .as(org.apache.spark.sql.Encoders.scalaLong)
    val sketch = hashes.rdd.treeAggregate(
      org.apache.spark.util.sketch.BloomFilter.create(items, bits))(
      (bf, h) => { bf.putLong(h); bf },
      (a, b) => { a.mergeInPlace(b); a })
    // the bloom folds on the executors and lands on the driver ONCE as
    // a bits/8-byte array (2 B/span — a few MB at the largest door
    // batch), then re-enters the store-side filter as a BINARY
    // LITERAL: constant to BloomFilterMightContain, broadcast with the
    // task binary, and — unlike the q_dedup_bloom scalar-subquery
    // idiom — safe inside foreachBatch, where the batch frame lives in
    // the micro-batch CLONE session and temp views registered there
    // are invisible to the store-side session
    val bf = {
      val bos = new java.io.ByteArrayOutputStream()
      sketch.writeTo(bos)
      bos.toByteArray
    }
    base.filter(call_function("bloom_might_contain",
      lit(bf), xxhash64(col("gh"))))
  }

  /** THE decontamination gram definition — 4-gram word shingles over
    * lowercase whitespace tokens — over any (doc_id, text, ...) frame.
    * ONE definition shared by the benchmark store build, the batch
    * q_decontaminate, and the streaming door (the mixtureRate
    * single-definition discipline: a change to the order or
    * tokenization flows to every consumer together). Real pipelines use
    * 8-13 grams; the synthetic fixture only collides at n=4 (see
    * q_decontaminate's comment) — the plan is n-independent. Docs under
    * 4 tokens produce no gram rows (can't overlap a benchmark) and so
    * no profile row, matching the oracle's len(w) >= 4 guard.
    */
  def contamGrams(docs: DataFrame): DataFrame = {
    val n = 4
    docs
      .withColumn("w", split(lower(col("text")), "\\s+"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - ${n - 1}), i -> array_join(slice(w, i, $n), ' '))"))
        .as("gram"))
  }

  /** One-time benchmark-suite gram store: the DISTINCT decontamination
    * grams of the held-out eval slice (doc_id % 53 == 0 stands in for a
    * benchmark suite), persisted once per sf dir. Eval suites are a few
    * MB and FIXED while the corpus grows without bound, so at 100 TB
    * this is a broadcast-sized side table every decontamination pass —
    * batch or at the ingest door — probes without ever re-deriving it
    * from documents.
    */
  def ensureBenchGramStore(s: SparkSession, dir: String): DataFrame =
    Sources.parquetStore(s, dir, "bench_grams_v1") {
      contamGrams(Tables(s, dir, "documents")
        .filter(col("doc_id") % 53 === 0))
        .select("gram").distinct()
    }

  /** Per-document contamination profile of `docs` against a benchmark
    * gram frame — the q_decontaminate computation, factored so
    * the streaming door (Streaming.q_stream_decontaminate) applies the
    * identical rule to each micro-batch. The benchmark side BROADCASTS
    * (eval suites are tiny next to the corpus); the corpus side is a
    * map-side probe + one partial-aggregated shuffle on doc_id — corpus
    * grams never shuffle on gram. The bench side is deduped HERE (cheap
    * on a broadcast-sized frame) rather than trusted distinct: a
    * repeated bench gram would otherwise multiply left-join rows and
    * inflate n_grams and contamination for every doc containing it.
    */
  def contaminationProfile(docs: DataFrame, bench: DataFrame): DataFrame =
    contamGrams(docs)
      .join(broadcast(bench.select("gram").distinct().withColumn("hit", lit(1))),
        Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_contaminated"))
      .withColumn("contamination",
        col("n_contaminated").cast(DoubleType) / col("n_grams"))
      .withColumn("contaminated", col("n_contaminated") > 0)

  /** Maximal duplicated-token intervals per document (the masking
    * ranges of Lee et al. 2021): duplicated 8-token span positions
    * coalesce into maximal (start_tok, end_tok) ranges via
    * gaps-and-islands under Window.partitionBy(doc_id). One span-hash
    * shuffle finds the duplicated spans (O(total spans), no pairwise
    * work); interval assembly is per-document and bounded by document
    * length at any corpus size. Spans at positions p, q (q > p) merge
    * iff q <= p + 8 — interval [q, q+7] overlaps or directly abuts
    * [p, p+7]. Shared by q_span_intervals (reports the ranges) and
    * q_span_mask (applies them).
    */
  def spanIntervals(s: SparkSession, dir: String): DataFrame =
    // spread-gated before the CPU-bound tokenize + per-span md5 explode
    // (round-16; see Sources.spreadScanForCpu — an at-scale multi-file
    // corpus is untouched)
    dupIntervalsOfTokens(Sources.spreadScanForCpu(Tables(s, dir, "documents"))
      .withColumn("w", normTokens(col("text"))))

  /** The interval assembly of [[spanIntervals]] over any tokenized frame
    * `(doc_id, w)` — factored so q_pipeline_llm runs the identical
    * computation over its post-quality post-dedup survivor set instead
    * of the raw corpus.
    */
  def dupIntervalsOfTokens(tok: DataFrame): DataFrame = {
    val k = 8
    val g = tok
      .filter(size(col("w")) >= k)
      // native span_md5s: value-identical to the md5(array_join(slice))
      // HOF (oracles unchanged), minus the interpreter overhead
      .select(col("doc_id"), posexplode(
        call_function("span_md5s", col("w"))).as(Seq("pos0", "gh")))
      .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"),
        col("gh"))
      .persist() // the duplicated-span agg + the position join share it
    val dup = g.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select("gh")
    val wRow = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    g.join(dup, "gh")
      .select("doc_id", "pos")
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wRow) <= k, 0L)
          .otherwise(1L))
      .withColumn("island", sum(col("brk")).over(wRow.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + lit(k - 1).cast(LongType)).as("end_tok"),
        count(lit(1)).as("n_dup_spans"))
      .select("doc_id", "start_tok", "end_tok", "n_dup_spans")
  }

  /** The packing family's reingest-stable global token prefix sum,
    * factored out of q_pack_sequences / q_pack_emit / q_pack_masked
    * (ONE definition of the banding convention instead of three): each
    * doc of `perDoc` gets `cum_before` = the sum of `weight` over all
    * docs strictly before it in md5-key order. Rides the banded
    * two-level machinery (bucketize + driver-folded band offsets +
    * within-band windows) — NO unpartitioned running-sum window at any
    * corpus size; all arithmetic exact longs. `perDoc` must carry
    * `doc_id` plus the long `weight` column; every input column passes
    * through.
    */
  private def packCumBefore(perDoc: DataFrame, weight: String): DataFrame = {
    val keyed = perDoc
      .withColumn("k",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast(LongType))
      .withColumn("bkt", Banding.bucketize(
        col("k").cast(DoubleType), lit(0.0), lit(4294967296.0)))
    val off = Banding.offsets(
      keyed.groupBy("bkt").agg(sum(col(weight)).as("tc")), Seq("off"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("bkt").orderBy(col("k"), col("doc_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    keyed.join(broadcast(off), "bkt")
      .withColumn("cum_before",
        coalesce(sum(col(weight)).over(wIn), lit(0L)) + col("off"))
  }

  /** The Gopher rule-battery statistics (Rae et al. 2021, appendix
    * A1.1) over a documents frame — one codegen'd map pass adding
    * (w, n_words, mean_wlen, sym_ratio, alpha_ratio, n_stop_hits).
    * SINGLE definition shared by q_gopher_rules and q_pipeline_llm's
    * stage 1 (the normText convention: an edit here flows to every
    * consumer instead of silently desynchronizing them).
    */
  private def gopherStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", normTokens(col("text")))
      .withColumn("n_words", size(col("w")).cast(LongType))
      .withColumn("mean_wlen",
        expr("aggregate(w, 0L, (acc, x) -> acc + length(x))")
          .cast(DoubleType) / col("n_words"))
      .withColumn("sym_ratio",
        expr("size(filter(w, x -> contains(x, '#') OR contains(x, '...')))")
          .cast(DoubleType) / col("n_words"))
      .withColumn("alpha_ratio",
        expr("size(filter(w, x -> x rlike '[a-z]'))")
          .cast(DoubleType) / col("n_words"))
      .withColumn("n_stop_hits",
        size(array_intersect(array_distinct(col("w")),
          lit(stopEn.toArray))).cast(LongType))

  /** First-failing-rule verdict over [[gopherStats]] columns (published
    * thresholds; cheap rules gate expensive ones exactly as in the
    * paper). `=== "kept"` is the pipeline's pass predicate.
    */
  private def gopherVerdict: Column =
    when(col("n_words") < 50, "too_few_words")
      .when(col("n_words") > 100000, "too_many_words")
      .when(col("mean_wlen") < 3.0 || col("mean_wlen") > 10.0, "word_length")
      .when(col("sym_ratio") > 0.1, "symbol_ratio")
      .when(col("alpha_ratio") < 0.8, "non_alpha")
      .when(col("n_stop_hits") < 2, "stopword_floor")
      .otherwise("kept")

  /** The battery's DuckDB twin — d/f CTEs mirroring [[gopherStats]]
    * (carrying source/lang/w through for composed consumers) — and the
    * verdict CASE mirroring [[gopherVerdict]]. Shared by the
    * q_gopher_rules and q_pipeline_llm oracles.
    */
  private[graft] val gopherBatteryCte: String =
    gopherBatteryCteOver("documents", "d", "f")

  /** [[gopherBatteryCte]] over an arbitrary source relation/CTE with
    * caller-chosen CTE names — so the streaming pretrain door's oracle
    * can run the IDENTICAL battery over its synthesized delta while the
    * base half keeps the canonical d/f names.
    */
  private[graft] def gopherBatteryCteOver(src: String, dName: String,
      fName: String): String =
    s"""$dName AS (
           SELECT doc_id, source, lang,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
           FROM $src),
         $fName AS (
           SELECT doc_id, source, lang, w, CAST(len(w) AS BIGINT) AS n_words,
             CAST(list_reduce(list_prepend(0,
               list_transform(w, x -> length(x))), (a, x) -> a + x) AS DOUBLE)
               / len(w) AS mean_wlen,
             CAST(len(list_filter(w, x -> contains(x, '#')
               OR contains(x, '...'))) AS DOUBLE) / len(w) AS sym_ratio,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
               AS DOUBLE) / len(w) AS alpha_ratio,
             CAST(len(list_intersect(list_distinct(w),
               [${stopEn.map("'" + _ + "'").mkString(",")}])) AS BIGINT)
               AS n_stop_hits
           FROM $dName)"""
  private[graft] val gopherVerdictSql: String =
    """CASE WHEN n_words < 50 THEN 'too_few_words'
           WHEN n_words > 100000 THEN 'too_many_words'
           WHEN mean_wlen < 3.0 OR mean_wlen > 10.0 THEN 'word_length'
           WHEN sym_ratio > 0.1 THEN 'symbol_ratio'
           WHEN alpha_ratio < 0.8 THEN 'non_alpha'
           WHEN n_stop_hits < 2 THEN 'stopword_floor'
           ELSE 'kept' END"""

  // ------------------------------------------------------------------
  // Gopher REPETITION signals (Rae et al. 2021, appendix A1.1 — the
  // self-repetition half of the quality rules, which the per-word
  // statistics battery above cannot see): duplicate line / paragraph
  // fractions, the character coverage of the single most frequent
  // word n-gram (n = 2..4), and the character coverage of all
  // duplicated word n-grams (n = 5..10). The published thresholds
  // gate each signal (first-failing-reason verdict, like
  // gopherVerdict). 100 TB shape: the obvious implementation explodes
  // every n-gram and shuffles ~|dupNs ∪ topNs| × corpus tokens into a
  // (doc, n, gram) groupBy — but every signal is PER-DOCUMENT, so the
  // whole battery folds map-side instead: sort each row's gram array
  // and walk it once with a higher-order `aggregate` (run-length
  // encoding in a 6-field struct), one codegen'd projection, ZERO
  // shuffles, nothing crosses executors. The DuckDB oracle keeps the
  // transparent unnest + GROUP BY form — oracle clarity over oracle
  // speed — so the two sides also check each other's algebra
  // (map-side RLE fold == grouped count aggregation).
  // Parity: every fraction is one IEEE division of two BIGINTs that
  // are exact on both engines (run lengths × character lengths), so
  // the unrounded doubles the verdict compares are bit-equal; surfaced
  // columns round to 6 like the word battery's.

  /** top_ngram_char_frac ns and thresholds (Rae et al. 2021 A1.1). */
  private[graft] val repTopNs: Seq[(Int, Double)] =
    Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  /** dup_ngram_char_frac ns and thresholds. */
  private[graft] val repDupNs: Seq[(Int, Double)] =
    Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)
  private[graft] val repLineMax = 0.30      // dup_line_frac
  private[graft] val repLineCharMax = 0.20  // dup_line_char_frac
  private[graft] val repParaMax = 0.30      // dup_para_frac
  private[graft] val repParaCharMax = 0.20  // dup_para_char_frac

  /** SQL fragment: the word n-gram array of `w` for one n — space-joined
    * windows, empty when the document is shorter than n (sequence(1,0)
    * would DESCEND in Spark, hence the guard). */
  private[graft] def repGramArrSql(n: Int): String =
    s"IF(size(w) >= $n, transform(sequence(1, size(w) - $n + 1), " +
      s"i -> concat_ws(' ', slice(w, i, $n))), array())"

  /** The interpreted SQL forms the native `char_entropy_stats` /
    * `span_mask_stats` expressions replaced (round-14 verdict task 2)
    * — retained as the pinned value-identity references, the
    * [[repFoldSql]] convention (HofNativeSpec compares them to the
    * native path over the whole fixture). `charEntropyFoldSql` expects
    * columns `sc` (the sorted non-empty char array of `text`) and
    * `text` in scope; `spanMaskKeepSql` expects `w` and a nullable
    * `ivs` array<struct<s,e>>.
    */
  private[graft] val charEntropyFoldSql: String =
    """aggregate(sc,
         named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'acc', 0.0D),
         (st, x) -> IF(st.prev IS NOT NULL AND x = st.prev,
           named_struct('prev', x, 'run', st.run + 1L, 'acc', st.acc),
           named_struct('prev', x, 'run', 1L,
             'acc', st.acc + IF(st.prev IS NULL, 0.0D,
               -(CAST(st.run AS DOUBLE) / length(text))
                 * ln(CAST(st.run AS DOUBLE) / length(text))))),
         st -> st.acc + IF(st.prev IS NULL, 0.0D,
           -(CAST(st.run AS DOUBLE) / length(text))
             * ln(CAST(st.run AS DOUBLE) / length(text))))"""

  private[graft] val spanMaskKeepSql: String =
    """filter(sequence(1, size(w)), ix ->
         ivs IS NULL OR NOT exists(ivs, v -> ix >= v.s AND ix <= v.e))"""

  /** SQL fragment: run-length fold of a sorted copy of `arr`
    * (array<string>) into named_struct(mx, topcov, dupch, dupin) —
    * longest run, best run×chars under the (count, coverage)
    * lexicographic tie-break, duplicated-occurrence chars, duplicated
    * occurrences. One pass, no shuffle; the oracle's grouped-count form
    * computes the same four numbers per (doc, collection). */
  private[graft] def repFoldSql(arr: String): String = {
    // closing the open run folds it into (mx, topcov, dupch, dupin);
    // acc.prev IS NULL ⇔ nothing open (empty array / first element)
    def closed(restFields: String) =
      s"""named_struct($restFields
         'mx', GREATEST(acc.mx, acc.run),
         'topcov', CASE WHEN acc.prev IS NULL THEN acc.topcov
           WHEN acc.run > acc.mx THEN acc.run * length(acc.prev)
           WHEN acc.run = acc.mx
             AND acc.run * length(acc.prev) > acc.topcov
             THEN acc.run * length(acc.prev)
           ELSE acc.topcov END,
         'dupch', acc.dupch + CASE WHEN acc.run > 1
           THEN acc.run * length(acc.prev) ELSE 0L END,
         'dupin', acc.dupin + CASE WHEN acc.run > 1
           THEN acc.run ELSE 0L END)"""
    s"""aggregate(
       array_sort($arr),
       named_struct('prev', CAST(NULL AS STRING), 'run', 0L,
         'mx', 0L, 'topcov', 0L, 'dupch', 0L, 'dupin', 0L),
       (acc, x) -> IF(x = acc.prev,
         named_struct('prev', acc.prev, 'run', acc.run + 1L,
           'mx', acc.mx, 'topcov', acc.topcov,
           'dupch', acc.dupch, 'dupin', acc.dupin),
         ${closed("'prev', x, 'run', 1L,")}),
       acc -> ${closed("")})"""
  }

  /** Per-document repetition statistics — ONE zero-shuffle projection
    * adding the 13 signal columns (unrounded, for the verdict) plus the
    * shared `w`. Lines split on \n, paragraphs on \n\n (both keeping
    * trailing empties, mirrored by the oracle's string_split); n-grams
    * ride the SAME normTokens words as every other Text consumer.
    * The RLE folds are NATIVE expressions (rep_gram_stats /
    * rep_rle_stats — hash count-maps instead of sort + interpreted
    * per-element struct folds; the late-round-14 sweep had the battery
    * at 6.5 s per run at sf0.1, all interpreter overhead); the SQL fold
    * stays in [[repFoldSql]] as the value-identity reference, pinned
    * equal by AnalyticsSpec's native-vs-fold law, and the DuckDB oracle
    * keeps its transparent grouped-count form — so the same numbers now
    * arrive via THREE independent algebras. */
  private def repetitionStats(docs: DataFrame): DataFrame = {
    val grams = (repTopNs ++ repDupNs).map { case (n, _) =>
      s"st_$n" -> call_function("rep_gram_stats", col("w"), lit(n))
    }
    val base = docs
      .withColumn("w", normTokens(col("text")))
      .withColumn("den",
        greatest(length(normText(col("text"))), lit(1)).cast(LongType))
      .withColumn("ls", split(col("text"), "\n", -1))
      .withColumn("ps", split(col("text"), "\n\n", -1))
      .withColumn("st_line", call_function("rep_rle_stats", col("ls")))
      .withColumn("st_para", call_function("rep_rle_stats", col("ps")))
      .withColumn("lchars", greatest(col("st_line.chars"), lit(1L)))
      .withColumn("pchars", greatest(col("st_para.chars"), lit(1L)))
    val withGrams = grams.foldLeft(base) { case (df, (c, e)) =>
      df.withColumn(c, e)
    }
    def frac(num: Column, den: Column): Column =
      num.cast(DoubleType) / den.cast(DoubleType)
    val withLine = withGrams
      .withColumn("dup_line_frac",
        frac(col("st_line.dupin"), size(col("ls")).cast(LongType)))
      .withColumn("dup_line_char_frac",
        frac(col("st_line.dupch"), col("lchars")))
      .withColumn("dup_para_frac",
        frac(col("st_para.dupin"), size(col("ps")).cast(LongType)))
      .withColumn("dup_para_char_frac",
        frac(col("st_para.dupch"), col("pchars")))
    val withTop = repTopNs.foldLeft(withLine) { case (df, (n, _)) =>
      df.withColumn(s"top_${n}gram_char_frac",
        frac(col(s"st_$n.topcov"), col("den")))
    }
    repDupNs.foldLeft(withTop) { case (df, (n, _)) =>
      df.withColumn(s"dup_${n}gram_char_frac",
        frac(col(s"st_$n.dupch"), col("den")))
    }
  }

  /** First-failing-rule repetition verdict (published thresholds,
    * cheap-to-expensive order as in gopherVerdict). */
  private def repVerdict: Column = {
    val line = when(col("dup_line_frac") > repLineMax, "dup_lines")
      .when(col("dup_para_frac") > repParaMax, "dup_paragraphs")
      .when(col("dup_line_char_frac") > repLineCharMax, "dup_line_chars")
      .when(col("dup_para_char_frac") > repParaCharMax, "dup_para_chars")
    val top = repTopNs.foldLeft(line) { case (c, (n, t)) =>
      c.when(col(s"top_${n}gram_char_frac") > t, s"top_${n}gram")
    }
    repDupNs.foldLeft(top) { case (c, (n, t)) =>
      c.when(col(s"dup_${n}gram_char_frac") > t, s"dup_${n}gram")
    }.otherwise("kept")
  }

  private val repFracCols: Seq[String] =
    Seq("dup_line_frac", "dup_line_char_frac",
      "dup_para_frac", "dup_para_char_frac") ++
      repTopNs.map { case (n, _) => s"top_${n}gram_char_frac" } ++
      repDupNs.map { case (n, _) => s"dup_${n}gram_char_frac" }

  /** The oracle twin of [[repetitionStats]]+[[repVerdict]] as CTEs
    * ending in `sig` (doc_id, source, the 13 unrounded fractions,
    * verdict) — grouped-count form, generated from the SAME
    * ns/thresholds the engine executes. */
  private[graft] lazy val repSignalsCtes: String =
    repSignalsCtesOver("documents")

  /** [[repSignalsCtes]] over an arbitrary source relation/CTE — so the
    * composed curation chain (q_corpus_clean) can run the identical
    * battery over the PII-augmented corpus. */
  private[graft] def repSignalsCtesOver(src: String): String = {
    val gramBranches = (repTopNs ++ repDupNs).map { case (n, _) =>
      s"""SELECT doc_id, $n AS n,
         CASE WHEN len(w) >= $n THEN
           list_transform(generate_series(1, len(w) - $n + 1),
             i -> array_to_string(w[i:i+$n-1], ' '))
         ELSE []::VARCHAR[] END AS gs FROM rd"""
    }.mkString("\n           UNION ALL ")
    val topJoins = repTopNs.map { case (n, _) =>
      s"LEFT JOIN ga g$n ON g$n.doc_id = rd.doc_id AND g$n.n = $n"
    }.mkString("\n           ")
    val dupJoins = repDupNs.map { case (n, _) =>
      s"LEFT JOIN ga d$n ON d$n.doc_id = rd.doc_id AND d$n.n = $n"
    }.mkString("\n           ")
    val topSel = repTopNs.map { case (n, _) =>
      s"CAST(coalesce(g$n.topcov, 0) AS DOUBLE) / CAST(rd.den AS DOUBLE) AS top_${n}gram_char_frac"
    }.mkString(",\n             ")
    val dupSel = repDupNs.map { case (n, _) =>
      s"CAST(coalesce(d$n.dupch, 0) AS DOUBLE) / CAST(rd.den AS DOUBLE) AS dup_${n}gram_char_frac"
    }.mkString(",\n             ")
    s"""rd AS (
           SELECT doc_id, source,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w,
             CAST(greatest(length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1) AS BIGINT) AS den,
             string_split(text, chr(10)) AS lsx,
             string_split(text, chr(10) || chr(10)) AS psx
           FROM $src),
         rg AS (SELECT doc_id, n, unnest(gs) AS g FROM (
           $gramBranches)),
         rc AS (SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS cnt,
             CAST(length(g) AS BIGINT) AS chl
           FROM rg GROUP BY 1, 2, 3),
         rs AS (SELECT doc_id, n, max(cnt) AS mx,
             CAST(sum(CASE WHEN cnt > 1 THEN cnt * chl ELSE 0 END) AS BIGINT) AS dupch
           FROM rc GROUP BY 1, 2),
         rt AS (SELECT rc.doc_id, rc.n, CAST(max(rc.cnt * rc.chl) AS BIGINT) AS topcov
           FROM rc JOIN rs ON rs.doc_id = rc.doc_id AND rs.n = rc.n
             AND rc.cnt = rs.mx
           GROUP BY 1, 2),
         ga AS (SELECT rs.doc_id, rs.n, rs.dupch, rt.topcov
           FROM rs JOIN rt ON rt.doc_id = rs.doc_id AND rt.n = rs.n),
         rl AS (SELECT doc_id, kind, unnest(vs) AS v FROM (
           SELECT doc_id, 'line' AS kind, lsx AS vs FROM rd
           UNION ALL SELECT doc_id, 'para', psx FROM rd)),
         rlc AS (SELECT doc_id, kind, v, CAST(count(*) AS BIGINT) AS cnt,
             CAST(length(v) AS BIGINT) AS chl
           FROM rl GROUP BY 1, 2, 3),
         rla AS (SELECT doc_id, kind,
             CAST(sum(cnt) AS BIGINT) AS ninst,
             CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dupin,
             CAST(sum(CASE WHEN cnt > 1 THEN cnt * chl ELSE 0 END) AS BIGINT) AS dupch,
             CAST(greatest(sum(cnt * chl), 1) AS BIGINT) AS tchars
           FROM rlc GROUP BY 1, 2),
         sig AS (SELECT rd.doc_id, rd.source,
             CAST(ll.dupin AS DOUBLE) / CAST(ll.ninst AS DOUBLE) AS dup_line_frac,
             CAST(ll.dupch AS DOUBLE) / CAST(ll.tchars AS DOUBLE) AS dup_line_char_frac,
             CAST(pp.dupin AS DOUBLE) / CAST(pp.ninst AS DOUBLE) AS dup_para_frac,
             CAST(pp.dupch AS DOUBLE) / CAST(pp.tchars AS DOUBLE) AS dup_para_char_frac,
             $topSel,
             $dupSel
           FROM rd
           JOIN rla ll ON ll.doc_id = rd.doc_id AND ll.kind = 'line'
           JOIN rla pp ON pp.doc_id = rd.doc_id AND pp.kind = 'para'
           $topJoins
           $dupJoins)"""
  }

  /** The verdict CASE over `sig` columns, generated from the same
    * thresholds [[repVerdict]] executes. */
  private[graft] lazy val repVerdictSql: String = {
    val tops = repTopNs.map { case (n, t) =>
      s"WHEN top_${n}gram_char_frac > $t THEN 'top_${n}gram'"
    }.mkString("\n           ")
    val dups = repDupNs.map { case (n, t) =>
      s"WHEN dup_${n}gram_char_frac > $t THEN 'dup_${n}gram'"
    }.mkString("\n           ")
    s"""CASE WHEN dup_line_frac > $repLineMax THEN 'dup_lines'
           WHEN dup_para_frac > $repParaMax THEN 'dup_paragraphs'
           WHEN dup_line_char_frac > $repLineCharMax THEN 'dup_line_chars'
           WHEN dup_para_char_frac > $repParaCharMax THEN 'dup_para_chars'
           $tops
           $dups
           ELSE 'kept' END"""
  }

  /** q_repetition_signals surface: rounded per-doc signal columns. */
  def repetitionProfile(docs: DataFrame): DataFrame =
    repetitionStats(docs).select(col("doc_id") +:
      repFracCols.map(c => round(col(c), 6).as(c)): _*)

  /** q_repetition_rules surface: per-doc verdict + keep bit. */
  def repetitionRules(docs: DataFrame): DataFrame =
    repetitionStats(docs)
      .withColumn("verdict", repVerdict)
      .select(col("doc_id"), col("verdict"),
        (col("verdict") === "kept").as("keep"))

  /** The pretraining BASE chain as oracle CTEs — battery over
    * `documents`, first-id-per-fp dedup, tokenizer training (the same 5
    * bpeRoundCtes the store persists), the word→syms encode view, the
    * base symbol stream, and the frequency-ranked base symtab. Shared
    * by the q_pipeline_pretrain oracle and the streaming door's
    * (q_stream_pretrain), so the base-artifact definition exists ONCE.
    */
  private[graft] lazy val pretrainBaseCtes: String =
    s"""$gopherBatteryCte,
         j AS (
           SELECT *, ($gopherVerdictSql) = 'kept' AS pass_q FROM f),
         k0 AS (
           SELECT *, md5(array_to_string(w, ' ')) AS fp FROM j WHERE pass_q),
         k AS (
           SELECT * FROM (SELECT *, row_number()
             OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM k0)
           WHERE rn = 1),
         tok AS (SELECT doc_id, unnest(w) AS word,
                   generate_subscripts(w, 1) AS pos
                 FROM k),
         wfreq AS (SELECT word, count(*) AS f FROM tok
                   WHERE length(word) >= 2 GROUP BY word),
         ${bpeRoundCtes(5)},
         enc AS (SELECT array_to_string(syms, '') AS word, syms FROM v5),
         wsyms AS (SELECT t.doc_id, t.pos, coalesce(e.syms, [t.word]) AS syms
                   FROM tok t LEFT JOIN enc e USING (word)),
         stream AS (SELECT doc_id, pos, unnest(syms) AS sym,
                      generate_subscripts(syms, 1) AS spos
                    FROM wsyms),
         symtab AS (SELECT sym,
                      CAST(row_number() OVER (ORDER BY count(*) DESC, sym)
                        AS INTEGER) AS tid
                    FROM stream GROUP BY sym)"""

  /** [[pretrainBaseCtes]] extended through the banded prefix sum,
    * straggler-split explode, and id-slice emission — `emitted` is the
    * EXACT q_pipeline_pretrain output relation, shared verbatim by the
    * capstone oracle and the manifest oracle so the artifact definition
    * exists once.
    */
  private[graft] lazy val pretrainSegmentCtes: String =
    s"""$pretrainBaseCtes,
         docs AS (SELECT doc_id, list(tid ORDER BY pos, spos) AS ids,
                    CAST(count(*) AS BIGINT) AS n_tokens,
                    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) AS mk
                  FROM stream JOIN symtab USING (sym) GROUP BY doc_id),
         c AS (
           SELECT doc_id, ids, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY mk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM docs WHERE n_tokens > 0),
         seg AS (
           SELECT doc_id, ids, n_tokens, cum_before,
             unnest(range(CAST(cum_before // 2048 AS BIGINT),
               CAST((cum_before + n_tokens - 1) // 2048 + 1 AS BIGINT))) AS shard
           FROM c),
         emitted AS (
           SELECT CAST(shard AS BIGINT) AS shard, doc_id,
             CAST(greatest(shard * 2048 - cum_before, 0) AS BIGINT) AS start_tok,
             CAST(least((shard + 1) * 2048, cum_before + n_tokens)
               - cum_before - 1 AS BIGINT) AS end_tok,
             CAST(greatest(shard * 2048, cum_before) - shard * 2048 AS BIGINT)
               AS off_in_shard,
             array_to_string(
               ids[CAST(greatest(shard * 2048 - cum_before, 0) + 1 AS BIGINT):
                   CAST(least((shard + 1) * 2048, cum_before + n_tokens)
                     - cum_before AS BIGINT)], '-') AS ids
           FROM seg)"""

  /** The q_perplexity oracle, a shared val so q_ccnet_buckets' oracle
    * composes the SAME ppl definition (the bm25OracleSql convention).
    */
  private val perplexityOracleSql: String =
    """WITH tok AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
               t -> length(t) > 0)) AS word,
             generate_subscripts(list_filter(string_split_regex(lower(text), '\s+'),
               t -> length(t) > 0), 1) AS pos
           FROM documents),
         uni AS (SELECT word, count(*) AS cu FROM tok GROUP BY word),
         v AS (SELECT count(*) AS v_size FROM uni),
         b2 AS (
           SELECT * FROM (
             SELECT doc_id, pos, word,
               lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS next
             FROM tok)
           WHERE next IS NOT NULL),
         bc AS (SELECT word, next, count(*) AS cb FROM b2 GROUP BY word, next),
         lp AS (
           SELECT b2.doc_id, b2.pos,
             ln(bc.cb + 1.0) - ln(uni.cu + v.v_size) AS logp
           FROM b2 JOIN bc USING (word, next) JOIN uni USING (word) CROSS JOIN v),
         d AS (SELECT doc_id, count(*) AS n_bigrams,
                 list(logp ORDER BY pos) AS l
               FROM lp GROUP BY doc_id)
         SELECT doc_id, n_bigrams,
           round(exp(-(list_reduce(list_prepend(0.0, l), (a, b) -> a + b))
             / n_bigrams), 6) AS ppl
         FROM d"""

  /** DuckDB twin of [[bpeTrain]]: the same 5 merge rounds unrolled as
    * CTEs (the q_pagerank oracle convention). Each round: pair stats
    * over the vocab (overlap included, f-weighted), 1-row argmax with
    * the (cnt DESC, a, b) tiebreak, then the same greedy left-to-right
    * non-overlapping merge fold (list accumulator, just-merged token
    * can't re-match — see bpeTrain's scaladoc for the length argument).
    */
  private def bpeTrainOracleSql(rounds: Int): String =
    bpeOracleCtes(rounds) + "\n" + (1 to rounds).map(i =>
      s"SELECT CAST($i AS INTEGER) AS rnd, a AS left_sym, b AS right_sym, " +
        s"a || b AS merged, cnt FROM m$i").mkString("\n UNION ALL ")

  private def bpeVocabOracleSql(rounds: Int): String =
    bpeOracleCtes(rounds) +
      s"""
       SELECT sym, CAST(sum(f) AS BIGINT) AS cnt
       FROM (SELECT f, unnest(syms) AS sym FROM v$rounds)
       GROUP BY sym ORDER BY cnt DESC, sym LIMIT 20"""

  private def bpeOracleCtes(rounds: Int): String =
    s"""WITH wfreq AS (
         SELECT word, count(*) AS f FROM (
           SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
           FROM documents)
         WHERE length(word) >= 2 GROUP BY word),
       ${bpeRoundCtes(rounds)}"""

  /** The merge-round CTE chain alone, over an existing `wfreq(word, f)`
    * CTE — so composed pipelines (q_pipeline_tokenizer) can train on a
    * SURVIVOR word table instead of the raw corpus.
    */
  private def bpeRoundCtes(rounds: Int): String = {
    def one(i: Int): String =
      s"""p$i AS (
           SELECT pr['a'] AS a, pr['b'] AS b, CAST(sum(f) AS BIGINT) AS cnt
           FROM (SELECT f, unnest(list_transform(range(1, len(syms)),
                   k -> {'a': syms[k], 'b': syms[k+1]})) AS pr
                 FROM v${i - 1} WHERE len(syms) >= 2)
           GROUP BY 1, 2),
         m$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         v$i AS (
           SELECT f, list_reduce(
             list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, s -> [s])),
             (acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = ma
                                  AND x[1] = mb
                         THEN list_concat(acc[1:len(acc)-1], [ma || mb])
                         ELSE list_concat(acc, x) END) AS syms
           FROM v${i - 1} CROSS JOIN (SELECT a AS ma, b AS mb FROM m$i))"""
    s"""v0 AS (SELECT f, string_split_regex(word, '') AS syms FROM wfreq),
       ${(1 to rounds).map(one).mkString(",\n")}"""
  }

  /** (doc_id, lang, bks): hashed-bigram bucket lists (1024 buckets, md5
    * — the cross-engine hash) — the shared tokenize+hash pass behind
    * q_dsir and the ingest-time q_stream_dsir.
    */
  private def dsirBuckets(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", normTokens(col("text")))
      .filter(size(col("w")) >= 2)
      // native codegen twin of transform(..., i -> CAST(conv(substring(
      // md5(concat_ws(' ', w[i], w[i+1])), 1, 8), 16, 10) AS BIGINT)
      // % 1024) — identical bucket values, no per-bigram interpreter cost
      .withColumn("bks", call_function("bigram_md5_buckets", col("w")))
      .select("doc_id", "lang", "bks")

  /** Per-bucket (b, tc, rc) counts of a bucketed frame: tc counts the
    * TARGET bigrams (lang=en — the one definition of the target), rc
    * all. Shared by q_dsir (full-pool models) and the persisted
    * base-half model store so the batch/stream twins cannot diverge.
    */
  private def dsirCountsOf(t: DataFrame): DataFrame =
    t.select(col("lang"), explode(col("bks")).as("b"))
      .groupBy("b")
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tc"),
        count(lit(1)).as("rc"))

  /** Single-row broadcastable DSIR model frame from per-bucket counts
    * (b, tc, rc): target/raw counts as DENSE 1024-length arrays +
    * totals. Dense arrays, not maps: Spark's MapData element_at is an
    * O(width) linear scan, which multiplied by two lookups per bigram
    * made scoring ~3x slower than the O(1) indexed form.
    */
  def dsirModelsOf(cnts: DataFrame): DataFrame =
    cnts.agg(
      map_from_entries(collect_list(struct(col("b"), col("tc")))).as("tmm"),
      sum(col("tc")).cast(DoubleType).as("tt"),
      map_from_entries(collect_list(struct(col("b"), col("rc")))).as("rmm"),
      sum(col("rc")).cast(DoubleType).as("rt"))
      .select(
        expr("""transform(sequence(0, 1023), b ->
              coalesce(element_at(tmm, CAST(b AS BIGINT)), 0L))""").as("ta"),
        col("tt"),
        expr("""transform(sequence(0, 1023), b ->
              coalesce(element_at(rmm, CAST(b AS BIGINT)), 0L))""").as("ra"),
        col("rt"))

  /** Per-doc log importance weight of a bucketed frame against a 1-row
    * models frame: Laplace-smoothed log-ratio folded in token position
    * order (identical IEEE sequence both engines). Map-side — the
    * models broadcast.
    */
  def dsirScore(t: DataFrame, models: DataFrame): DataFrame =
    t.crossJoin(broadcast(models))
      .withColumn("log_w", expr(
        """aggregate(bks, 0.0D, (acc, b) ->
              acc + ln((element_at(ta, CAST(b + 1 AS INT)) + 1) / (tt + 1024.0D))
                  - ln((element_at(ra, CAST(b + 1 AS INT)) + 1) / (rt + 1024.0D)))"""))

  /** The ONE corpus-LM tokenization — lowercase, whitespace split, empty
    * tokens dropped — shared by the bigram-LM store and every query that
    * scores against it (q_perplexity / q_ccnet_buckets / q_bigram_lm),
    * so the corpus has a single LM vocabulary definition.
    */
  private def lmTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(filter(split(lower(col("text")), "\\s+"), t => length(t) > 0))
        .as(Seq("pos", "word")))

  /** One-time corpus bigram-LM store (the gram/DSIR-store convention):
    * unigram counts (word, cu) and bigram counts (word, next, cb) under
    * [[lmTokens]], fit ONCE per sf dir — v_size is the unigram store's
    * row count. At 100 TB the LM is an ingest-time artifact scored many
    * times; before this store q_perplexity re-counted the corpus per run
    * and q_ccnet_buckets paid the build AGAIN on top. Store content is a
    * deterministic function of documents (the synthesized-input rule:
    * every oracle rebuilds the same counts via CTEs).
    */
  def ensureBigramLmStore(s: SparkSession, dir: String): String =
    ensureBigramLmStoreOf(s, dir, identity, "bigram_lm_v1")

  /** The BASE-half LM (doc_id % 2 == 0 — the span/signature/DSIR store
    * convention): the model the ingest door scores DELTAS against, so
    * delta docs genuinely contain unseen words/bigrams and the add-one
    * smoothing's unseen path is exercised for real.
    */
  def ensureBaseBigramLmStore(s: SparkSession, dir: String): String =
    ensureBigramLmStoreOf(s, dir, _.filter(col("doc_id") % 2 === 0),
      "bigram_lm_base_v1")

  private def ensureBigramLmStoreOf(s: SparkSession, dir: String,
      slice: DataFrame => DataFrame, tag: String): String =
    Sources.ensureStore(dir, tag) { tmp =>
      val tok = lmTokens(slice(Tables(s, dir, "documents"))).persist()
      try {
        tok.groupBy("word").agg(count(lit(1)).as("cu"))
          .write.mode("overwrite").parquet(s"$tmp/uni")
        tok.withColumn("next", lead(col("word"), 1).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("doc_id").orderBy("pos")))
          .filter(col("next").isNotNull)
          .groupBy("word", "next").agg(count(lit(1)).as("cb"))
          .write.mode("overwrite").parquet(s"$tmp/bi")
      } finally { tok.unpersist(); () }
    }

  /** (unigrams, bigrams) read from the persisted LM store. */
  def bigramLm(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val p = ensureBigramLmStore(s, dir)
    (s.read.parquet(s"$p/uni"), s.read.parquet(s"$p/bi"))
  }

  /** (unigrams, bigrams) of the BASE-half LM store. */
  def baseBigramLm(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val p = ensureBaseBigramLmStore(s, dir)
    (s.read.parquet(s"$p/uni"), s.read.parquet(s"$p/bi"))
  }

  /** One-time CCNet-gate CUTPOINT store — the sidecar that completes
    * the base LM's ingest-time artifact set: (v_size, cut) where `cut`
    * is the head+middle/tail perplexity tercile of the BASE half scored
    * against its own LM (Wenzek et al. 2020's fixed buckets). Before
    * this store the ingest gate (q_stream_ppl_filter) re-scored the
    * whole base corpus and re-walked the quantile PER RUN — at 100 TB a
    * full base scan every time the door opens; now the gate's per-run
    * cost rides the delta micro-batches alone and the base enters only
    * through this 1-row literal + the vocabulary-sized LM probe
    * tables. Deterministic function of `documents` (exact quantile of
    * a deterministic scoring), so the oracle's CTE rebuild stays green.
    */
  def ensurePplCutpointStore(s: SparkSession, dir: String): String =
    Sources.ensureStore(dir, "ppl_cut_v1") { tmp =>
      import s.implicits._
      val (uni, bi) = baseBigramLm(s, dir)
      uni.persist(); bi.persist()
      try {
        val vSize = uni.count()
        val basePpl = perplexityAgainst(
          Tables(s, dir, "documents").filter(col("doc_id") % 2 === 0),
          uni, bi, vSize)
        val Seq(cut) = Holistic.exactQuantiles(basePpl, "ppl", Seq(0.666667))
        Seq((vSize, cut)).toDF("v_size", "cut")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
      } finally { uni.unpersist(); bi.unpersist(); () }
    }

  /** (v_size, cut) read from the persisted cutpoint store. */
  def basePplCutpoint(s: SparkSession, dir: String): (Long, Double) = {
    val r = s.read.parquet(ensurePplCutpointStore(s, dir)).head()
    (r.getLong(r.fieldIndex("v_size")), r.getDouble(r.fieldIndex("cut")))
  }

  /** Add-one-smoothed bigram-LM perplexity of `docs` against a persisted
    * (uni, bi) count store with vocabulary size `vSize`: each bigram's
    * log-prob is ln(cb+1) − ln(cu+V) with UNSEEN bigrams/words entering
    * at cb = 0 / cu = 0 (the smoothing's whole point — a delta doc the
    * LM never saw still scores), folded per doc in position order
    * (sorted list = identical IEEE sequence on both engines). One
    * tokenize of `docs` + the bigram-key probe joins; the store is never
    * re-fit. Shared by q_perplexity (full-corpus store, where every
    * bigram is seen and the left joins degenerate to inner) and the
    * ingest gate q_stream_ppl_filter (base store, real unseen mass).
    */
  def perplexityAgainst(docs: DataFrame, uni: DataFrame, bi: DataFrame,
      vSize: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    lmTokens(docs)
      .withColumn("next", lead(col("word"), 1).over(w))
      .filter(col("next").isNotNull)
      .join(bi, Seq("word", "next"), "left")
      .join(uni, Seq("word"), "left")
      .withColumn("logp",
        log(coalesce(col("cb"), lit(0L)) + lit(1.0)) -
          log(coalesce(col("cu"), lit(0L)) + lit(vSize.toDouble)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("pos"), col("logp")))).as("lp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(exp(-aggregate(col("lp"), lit(0.0), (a, x) => a + x("logp"))
          / col("n_bigrams")), 6).as("ppl"))
  }

  /** k rounds of BPE merge training (Sennrich et al. 2016) over the
    * corpus vocabulary: returns the ordered merge list
    * (round, left, right, merged, weighted pair count).
    *
    * Scale shape: ONE corpus tokenize + word-count shuffle builds the
    * distinct-word table; all k rounds run on that vocabulary-bounded
    * frame. Pair statistics count ALL adjacent symbol pairs (overlap
    * included, the reference algorithm's get_stats), weighted by word
    * frequency, ties broken lexicographically; each round's winner is a
    * single TakeOrdered row collected to the driver and applied as
    * literals. Merge application is the greedy left-to-right
    * NON-OVERLAPPING fold: within one round the merged token a||b is
    * strictly longer than a, so a just-merged element can never
    * re-match as the left side of the same pair — the fold reproduces
    * simultaneous left-to-right application exactly ("aaa" + (a,a) →
    * ["aa","a"]). Each round's vocab is persisted and materialized
    * before its parent is released, so round r never recomputes the
    * r-1 fold chain.
    */
  def bpeTrain(s: SparkSession, dir: String,
      rounds: Int): Seq[(Int, String, String, String, Long)] =
    bpeTrainOf(bpeWordFreq(s, dir), rounds)

  /** Per-doc split assignment of [[queries]]' q_corpus_split — factored
    * so the growth-stability law (a doc's split NEVER changes as the
    * corpus grows) can compare doc-grain memberships across sf dirs.
    */
  def corpusSplitAssign(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast(LongType) % 1000000).as("u"))
      .withColumn("split",
        when(col("u") < 800000, "train")
          .when(col("u") < 900000, "val")
          .otherwise("test"))

  /** The one corpus pass of BPE training: the distinct-word frequency
    * table (vocabulary-sized) everything else runs on. Public so the
    * batched-schedule laws can train on the real fixture word table.
    */
  def bpeWordFreq(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("f"))

  /** [[bpeTrain]]'s merge loop over any (word, f) frequency table —
    * factored so laws can drive it with a synthetic vocabulary where
    * merge chaining is guaranteed.
    */
  def bpeTrainOf(wordFreq: DataFrame,
      rounds: Int): Seq[(Int, String, String, String, Long)] = {
    val (merges, vocab) = bpeTrainVocab(wordFreq, rounds)
    vocab.unpersist()
    merges
  }

  /** [[bpeTrainOf]] ALSO returning the post-merge vocabulary
    * (f, syms) — the trained tokenizer's view of every word. Cache
    * hygiene after the localCheckpoint switch: for rounds >= 1 the
    * returned frame is checkpoint-backed, so `unpersist()` on it is a
    * harmless no-op and its RDD blocks (like each superseded round's)
    * are reclaimed by the ContextCleaner once unreferenced — the same
    * contract as [[graft.operators.Dedup.connectedComponents]]; only
    * the rounds == 0 path returns the initially persisted frame, which
    * callers' unpersist calls do release.
    *
    * `mergesPerRound` > 1 is the BATCHED schedule that takes BPE toward
    * real vocabulary sizes (a 30k-merge tokenizer cannot afford 30k
    * sequential driver round trips): each round collects the top
    * 16×k candidate pairs and greedily keeps up to k NON-INTERACTING
    * ones — pairwise disjoint over {left, right, merged} symbol
    * strings — applied simultaneously in ONE fold pass. Disjointness
    * makes the batch exact with respect to its own statistics: merging
    * (a,b) only destroys/creates pairs touching a or b, so the counts
    * the other selected pairs were ranked on are still their true
    * counts when they apply, matches of distinct pairs can never
    * overlap in a word (b₁=a₂ is excluded), and a just-merged token
    * can never equal another pair's symbol (merged strings are in the
    * disjointness set). The approximation vs strictly-sequential BPE
    * is only that pairs CREATED by a batch-mate (x, a·b) must wait for
    * the next round — the standard batched-BPE trade. k=1 degenerates
    * to exact sequential training (same candidate order, same fold).
    *
    * A round whose pair table is EMPTY (every word fully merged — more
    * rounds than possible merges) stops early and returns the merges
    * accumulated so far rather than throwing.
    *
    * CLUSTER CAVEAT (round-11 ADVICE): each round's `localCheckpoint`
    * cuts lineage, so checkpointed round blocks are UNRECOVERABLE on
    * executor loss — unlike the superseded persist+count variant, which
    * could recompute (but whose plan nesting doubled analysis time per
    * round after round 8; SCALE.md round-11). Irrelevant on the
    * single-JVM local[32] harness; a real-cluster deployment restarts
    * the training from scratch on executor loss (the training is
    * minutes, and deterministic).
    */
  /** likelihoodScore = false ranks candidate pairs by raw weighted count
    * (Sennrich BPE); true ranks by count(a,b) / (count(a) · count(b)) —
    * the WordPiece selection rule (Schuster & Nakajima 2012; the score
    * used by the BERT tokenizer's trainer), computed from one extra
    * vocabulary-bounded symbol-count aggregate per round. The batched
    * disjointness argument carries over unchanged: merging (a, b) only
    * perturbs counts of symbols in {a, b, ab}, so both the pair counts
    * AND the unigram counts behind every other selected candidate's
    * score are still true when it applies.
    */
  def bpeTrainVocab(wordFreq: DataFrame, rounds: Int,
      mergesPerRound: Int = 1,
      likelihoodScore: Boolean = false)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    require(mergesPerRound >= 1 && mergesPerRound <= 64,
      s"mergesPerRound $mergesPerRound: the batch is applied as ONE fold " +
        "whose when-chain grows with k — keep it codegen-sized (<= 64)")
    // driver-memory bound of the per-round collect: 16 ×
    // mergesPerRound (a, b, cnt) rows — two short strings + a long
    // each, tens of KB per round whatever the corpus. Pool-width
    // sensitivity MEASURED at k=64/16 rounds (SCALE.md round-12, BPE
    // pool-width sensitivity): 4×k starves selection (8.3 merges/round —
    // hub symbols crowd the top of the ranking), 16×k reaches ~17,
    // 64×k ~30 merges/round at LOWER wall/round (0.55 vs 0.60 s — more
    // merges amortize the fixed per-round agg) and still-trivial driver
    // traffic (~51 KiB/round). 16×k is the fidelity-leaning point
    // (deeper pools admit merges from further down the ranking than
    // sequential BPE would reach this early).
    val poolRows = 16 * mergesPerRound
    var vocab = wordFreq
      // Spark split('') keeps a trailing empty string (Java limit -1);
      // DuckDB's does not — drop empties so both engines see bare chars
      .select(col("f"),
        filter(split(col("word"), ""), t => t =!= "").as("syms"))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    // a mid-loop failure must not leak any live cache (the harness
    // clearCache covers queries, but library callers get the same
    // hygiene): `vocab` is only reassigned AFTER the new frame
    // materializes, so the outer catch always releases the one live
    // parent and the inner catch the half-built child
    try {
      var rnd = 1
      var exhausted = false
      while (rnd <= rounds && !exhausted) {
        // candidate pool: 16×k slack — disjoint survivors are scarcer
        // than 4×k assumed (hub symbols dominate the top of the ranking:
        // measured ~8-14 disjoint out of 256 candidates on the
        // customer-name vocabulary, k=64); a short selection just means
        // a thinner round, never an error
        val pairCnt = vocab
          // fully-merged 1-symbol words carry no pairs (and Spark's
          // sequence(1, 0) would DESCEND, fabricating null pairs)
          .filter(size(col("syms")) >= 2)
          .select(col("f"), explode(expr(
            "transform(sequence(1, size(syms) - 1)," +
              " i -> struct(syms[i-1] AS a, syms[i] AS b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("f")).as("cnt"))
        val ranked =
          if (!likelihoodScore)
            pairCnt.orderBy(col("cnt").desc, col("a"), col("b"))
          else {
            // WordPiece score = cnt / (cnt_a * cnt_b): one extra
            // vocabulary-bounded unigram aggregate, broadcast into the
            // (also vocabulary-bounded) pair table
            val symCnt = vocab
              .select(col("f"), explode(col("syms")).as("s"))
              .groupBy("s").agg(sum(col("f")).as("sc"))
            pairCnt
              .join(broadcast(symCnt.select(col("s").as("a"), col("sc").as("sca"))), "a")
              .join(broadcast(symCnt.select(col("s").as("b"), col("sc").as("scb"))), "b")
              .orderBy((col("cnt").cast(DoubleType)
                / (col("sca").cast(DoubleType) * col("scb").cast(DoubleType)))
                .desc, col("a"), col("b"))
          }
        val pool = ranked
          .select("a", "b", "cnt")
          .limit(poolRows)
          .collect()
        if (pool.isEmpty) exhausted = true
        else {
          val selected = scala.collection.mutable
            .ArrayBuffer.empty[(String, String, Long)]
          val used = scala.collection.mutable.Set.empty[String]
          val it = pool.iterator
          while (selected.size < mergesPerRound && it.hasNext) {
            val r = it.next()
            val (a, b) = (r.getString(0), r.getString(1))
            if (!used(a) && !used(b) && !used(a + b)) {
              selected += ((a, b, r.getLong(2)))
              used ++= Seq(a, b, a + b)
            }
          }
          val prev = vocab
          // localCheckpoint (eager) instead of persist+count: it
          // TRUNCATES the logical plan each round. With plain persist
          // the round-N frame's analyzed plan still nests all N-1
          // predecessors, and Catalyst re-analysis grows superlinearly —
          // measured on the 15k-word k=64 run: 0.6 s/round through
          // round 8, DOUBLING per round after (102 s by round 18, dead
          // by 19). With the checkpoint every round is one flat
          // fold-over-cached-rows: ~constant per round.
          val next = prev.select(col("f"),
            aggregate(col("syms"), typedLit(Seq.empty[String]),
              (acc, sym) => selected.foldRight(
                concat(acc, array(sym)): Column) { case ((a, b, _), els) =>
                  when(size(acc) > 0 && element_at(acc, -1) === lit(a) &&
                      sym === lit(b),
                    concat(slice(acc, lit(1), size(acc) - lit(1)),
                      array(lit(a + b))))
                    .otherwise(els)
              }).as("syms"))
          // eager: materialized HERE, lineage cut. localCheckpoint blocks
          // are UNRECOVERABLE on executor loss (fine single-JVM; scaladoc
          // caveat)
          vocab = next.localCheckpoint(true)
          // releases the ROUND-0 persisted frame; for later rounds prev
          // is checkpoint-backed and this is a no-op — superseded
          // rounds' RDD blocks are reclaimed by the ContextCleaner once
          // unreferenced (the connectedComponents contract)
          prev.unpersist()
          selected.foreach { case (a, b, cnt) =>
            merges += ((rnd, a, b, a + b, cnt))
          }
          rnd += 1
        }
      }
    } catch { case e: Throwable => vocab.unpersist(); throw e }
    (merges.toSeq, vocab)
  }

  /** The trained-tokenizer boundary (round-13 verdict task 5 — the
    * MediaCodec convention applied to text): a Tokenizer folds a
    * (word, f) vocabulary table into an ordered selection log plus the
    * per-word segmentation view (f, syms) with
    * `array_join(syms, '') == word` for every input word (totality —
    * machine-checked by TokenizerSpec's conformance contract, like
    * codecConformance). Everything DOWNSTREAM of training — the encode
    * join, symbol-id table, UNK handling, packing — reads segmentations
    * at vocabulary grain and never sees which instance trained them, so
    * swapping the tokenizer swaps nothing but the store.
    */
  trait Tokenizer {
    def name: String
    def trainVocab(wordFreq: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame)
  }

  /** Sennrich et al. 2016 count-ranked merges — the default instance. */
  object BpeTokenizer extends Tokenizer {
    val name = "bpe"
    def trainVocab(wordFreq: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) =
      Text.bpeTrainVocab(wordFreq, rounds)
  }

  /** WordPiece-scored merges (Schuster & Nakajima 2012): same merge
    * fold, candidates ranked by count(a,b)/(count(a)·count(b)) instead
    * of raw count — the REAL second instance proving the boundary swaps
    * (TokenizerSpec constructs a vocabulary where the two instances'
    * first selections provably differ).
    */
  object WordPieceTokenizer extends Tokenizer {
    val name = "wordpiece"
    def trainVocab(wordFreq: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) =
      Text.bpeTrainVocab(wordFreq, rounds, likelihoodScore = true)
  }

  /** One-time trained-TOKENIZER store (the gram/LM/DSIR-store
    * convention — fit once per sf dir, read forever): the 5-round
    * ordered merge list plus the post-merge vocabulary, both
    * deterministic functions of `documents` (so every oracle stays
    * green rebuilding the same training via CTEs — the
    * synthesized-input rule). At 100 TB a tokenizer is an ingest-time
    * artifact: it is trained ONCE and consumed by every encode /
    * vocab / compression query after, which is exactly how
    * q_bpe_train / q_bpe_vocab / q_bpe_encode now read it — before
    * this store each of them re-ran the full merge loop per query.
    * Layout: `merges/` (rnd, left_sym, right_sym, merged, cnt) and
    * `vocab/` (f, syms) parquet subdirs under one completeness marker.
    */
  def ensureBpeStore(s: SparkSession, dir: String): String =
    ensureBpeStoreOf(s, dir, "bpe_v1", bpeWordFreq(s, dir))

  /** The CLEANED-corpus tokenizer store — q_pipeline_tokenizer trains
    * on the quality+dedup SURVIVORS, a different word table than the
    * raw crawl, so it gets its own store keyed `bpe_clean_v1` (same
    * determinism argument: the survivor set is a pure function of
    * `documents`, single-sourced via [[pipelineKeptDocs]]).
    */
  def ensureCleanBpeStore(s: SparkSession, dir: String): String =
    ensureBpeStoreOf(s, dir, "bpe_clean_v1", cleanWordFreq(s, dir))

  /** THE cleaned-survivor word table — single definition shared by the
    * BPE and WordPiece clean stores, so the tokenizer-swap law's
    * "trained on the SAME survivor word table" premise is structural,
    * not maintained by parallel editing (round-14 review). */
  private def cleanWordFreq(s: SparkSession, dir: String): DataFrame =
    pipelineKeptDocs(s, dir)
      .select(explode(col("w")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("f"))

  /** The CLEANED-corpus WordPiece store — the second [[Tokenizer]]
    * instance trained on the SAME survivor word table as
    * [[ensureCleanBpeStore]] (tag `wp_clean_v1`), so the
    * tokenizer-swap law re-runs the pretrain pipeline with only the
    * store exchanged. */
  def ensureCleanWordPieceStore(s: SparkSession, dir: String): String =
    ensureBpeStoreOf(s, dir, "wp_clean_v1", cleanWordFreq(s, dir),
      tok = WordPieceTokenizer)

  private def ensureBpeStoreOf(s: SparkSession, dir: String, tag: String,
      wordFreq: => DataFrame, tok: Tokenizer = BpeTokenizer): String =
    Sources.ensureStore(dir, tag) { tmp =>
      import s.implicits._
      val (merges, vocab) = tok.trainVocab(wordFreq, rounds = 5)
      try {
        merges.toDF("rnd", "left_sym", "right_sym", "merged", "cnt")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$tmp/merges")
        vocab.write.mode("overwrite").parquet(s"$tmp/vocab")
      } finally { vocab.unpersist(); () }
    }

  /** The trained merge list read from the persisted tokenizer store. */
  def bpeStoreMerges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${ensureBpeStore(s, dir)}/merges")

  /** The post-merge vocabulary (f, syms) read from the persisted
    * tokenizer store.
    */
  def bpeStoreVocab(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${ensureBpeStore(s, dir)}/vocab")

  /** word → BPE token count under a trained (f, syms) vocabulary — the
    * encode-side probe table. The word key is RECONSTRUCTED as the
    * concatenation of its post-merge symbols (merging only joins
    * adjacent symbols, so the concatenation is the original word).
    */
  def bpeEncoderOf(vocab: DataFrame): DataFrame =
    vocab.withColumn("word", array_join(col("syms"), ""))
      .select(col("word"), size(col("syms")).cast(LongType).as("n_bpe"))

  /** Loud-failure guard for q_line_dedup's 64-bit segment keys: the
    * Spark side counts document frequency on md5-PREFIX ids while the
    * DuckDB oracle counts raw segment strings, so an id collision
    * between two distinct segments (~n²/2⁶⁵ — negligible, but
    * unverified at runtime) would silently merge their counts and
    * surface only as a confusing hash mismatch. Verify calls this at
    * fixture scale so a collision fails HERE with a named error
    * instead. One pass over the chunk table; cheap at any test sf.
    */
  def assertLineDedupKeysInjective(s: SparkSession, dir: String): Unit = {
    val r = Tables(s, dir, "documents")
      .withColumn("w", split(lower(col("text")), "\\s+"))
      .filter(size(col("w")) >= 4)
      .select(posexplode(expr(
        """zip_with(chunk_md5_ids64(w, 4),
                    transform(sequence(1, size(w) div 4),
                              i -> array_join(slice(w, (i-1)*4 + 1, 4), ' ')),
                    (id, s) -> struct(id AS seg_id, s AS seg))"""))
        .as(Seq("i", "x")))
      .agg(countDistinct(col("x.seg_id")).as("ids"),
        countDistinct(col("x.seg")).as("segs"))
      .head()
    require(r.getLong(0) == r.getLong(1),
      s"q_line_dedup 64-bit segment-id COLLISION on $dir: " +
        s"${r.getLong(1)} distinct segments map to ${r.getLong(0)} ids")
  }

  /** Stage 1+2 of the curation pipeline — Gopher battery → exact
    * content dedup (first-id-per-fp) — single-sourced so the
    * q_pipeline_tokenizer query and the cleaned-tokenizer store train
    * on the IDENTICAL survivor set.
    */
  def pipelineKeptDocs(s: SparkSession, dir: String): DataFrame = {
    val wFp = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    // the battery (normTokens + signal folds) is CPU-bound per-row work
    // on a scan that cannot parallelize below one task per fixture file
    // — spread first (gated; an at-scale multi-file corpus is untouched)
    batteryKeptDocs(Sources.spreadScanForCpu(Tables(s, dir, "documents")))
      .withColumn("rn", row_number().over(wFp))
      .filter(col("rn") === 1)
      .select("doc_id", "source", "w")
  }

  /** Battery-passing docs of ANY documents frame with their normalized
    * token array and content fingerprint — the pipeline's stage 1,
    * factored (round-12) so the batch capstone (which adds the
    * within-corpus first-id-per-fp dedup above) and the ingest door
    * (which instead anti-joins the base fingerprint store) share ONE
    * battery + fingerprint definition. Stateless map pass.
    */
  def batteryKeptDocs(docs: DataFrame): DataFrame =
    gopherStats(docs)
      .withColumn("pass_q", gopherVerdict === "kept")
      .filter(col("pass_q"))
      .select(col("doc_id"), col("source"), col("w"),
        md5(array_join(col("w"), " ")).as("fp"))

  /** Stage 3 of the pretraining build — ENCODE the curation survivors
    * into token-ID sequences with the persisted cleaned-corpus
    * tokenizer: each word maps to its post-merge symbol sequence
    * (vocabulary-grain join against the store — training is never
    * replayed; sub-floor length-1 words pass through as single
    * self-tokens, the q_bpe_encode contract), and each SYMBOL gets a
    * frequency-ranked integer token id via the banded vocabulary rank
    * (the q_encode_ids convention — id 1 = most frequent token, no
    * unpartitioned window over the symbol table at any vocab size).
    * Returns (doc_id, ids: array<int> in document order, n_tokens).
    * Factored out of q_pipeline_pretrain so the no-token-lost law can
    * compare the packed segments against the same encoded sequences.
    *
    * Scale shape: the heavy pass is the one survivor-corpus tokenize
    * (shared CTE with the battery); the symbol table is
    * vocabulary-bounded; per-doc id arrays are doc-length-bounded.
    *
    * Caching contract (the IVF-assigner convention, round-11 ADVICE):
    * the exploded symbol stream persists for the lifetime of the
    * returned lazy frame (the rank and id-mapping joins both read it);
    * callers release via `spark.catalog.clearCache()` when done — the
    * harness does this per query; long-lived library callers must too.
    * An EMPTY survivor corpus short-circuits to an empty frame (the
    * banded rank's min/max bounds would otherwise be null and trip
    * Banding.offsets' null-band require).
    */
  def pretrainEncodedDocs(s: SparkSession, dir: String): DataFrame =
    pretrainEncodedDocsWith(s, dir, cleanTokenizerVocab(s, dir))

  /** The cleaned-survivor corpus' exploded symbol stream
    * (doc_id, pos, spos, sym): curation survivors tokenized word-wise,
    * each word mapped to its post-merge symbol sequence via the
    * PERSISTED cleaned tokenizer store (sub-floor words pass through as
    * single self-tokens). Factored (round-12) so the base symbol-id
    * table can be built without re-deriving the stream inline.
    */
  private def pretrainSymbolStream(s: SparkSession, dir: String): DataFrame =
    pretrainSymbolStreamWith(s, dir, cleanTokenizerVocab(s, dir))

  /** The symbol stream under an EXPLICIT (word, syms) segmentation view
    * — the [[Tokenizer]]-swap entry: same battery survivors, same
    * sub-floor self-token rule, only the segmentations differ. */
  private[graft] def pretrainSymbolStreamWith(s: SparkSession, dir: String,
      vocab: DataFrame): DataFrame =
    pipelineKeptDocs(s, dir)
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "word")))
      .join(vocab, Seq("word"), "left")
      .select(col("doc_id"), col("pos"),
        posexplode(coalesce(col("syms"), array(col("word"))))
          .as(Seq("spos", "sym")))

  /** A tokenizer store's (word, syms) view — each trained word's
    * post-merge symbol sequence (the word key reconstructed as the
    * symbol concatenation, the totality contract). */
  def tokenizerVocabView(vocabStore: DataFrame): DataFrame =
    vocabStore
      .withColumn("word", array_join(col("syms"), ""))
      .select(col("word"), col("syms"))

  /** The cleaned tokenizer store's (word, syms) view — each trained
    * word's post-merge symbol sequence. private[graft]: the streaming
    * pretrain door persists this view once per stream. */
  private[graft] def cleanTokenizerVocab(s: SparkSession, dir: String): DataFrame =
    tokenizerVocabView(
      s.read.parquet(s"${ensureCleanBpeStore(s, dir)}/vocab"))

  /** [[pretrainEncodedDocs]] under an explicit segmentation view — the
    * tokenizer-swap law re-runs the whole encode with a different
    * instance's store and asserts every downstream pipeline law
    * (no-token-lost, shard tiling) unchanged. */
  def pretrainEncodedDocsWith(s: SparkSession, dir: String,
      vocab: DataFrame): DataFrame = {
    val stream = pretrainSymbolStreamWith(s, dir, vocab).persist()
    // ONE bounds collect doubles as the emptiness guard AND the rank's
    // count bounds, as in symtabOf (round-16: the separate isEmpty
    // action, a bounds broadcast job, and the first full-stream pass
    // they each implied fold into this single driver-bounded row; null
    // min ⇔ empty survivor corpus — the same condition the old isEmpty
    // guarded)
    val counts = stream.groupBy("sym").agg(count(lit(1)).as("cnt")).persist()
    val b = counts
      .agg(min(col("cnt")).as("minc"), max(col("cnt")).as("maxc")).head()
    if (b.isNullAt(0))
      return stream.limit(0).select(col("doc_id"),
        array().cast("array<int>").as("ids"), lit(0L).as("n_tokens"))
    stream.join(symtabOfCounts(counts, b.getLong(0), b.getLong(1)), "sym")
      .groupBy("doc_id")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("spos"), col("tid")))),
        x => x.getField("tid")).as("ids"))
      .select(col("doc_id"), col("ids"),
        size(col("ids")).cast(LongType).as("n_tokens"))
  }

  /** Frequency-ranked symbol-id table (sym → tid, id 1 = most frequent)
    * of a symbol stream — the banded q_encode_ids rank (no unpartitioned
    * window at any vocabulary size). Factored (round-12) so the ingest
    * door builds the BASE table once and encodes every micro-batch
    * against it.
    */
  def symtabOf(stream: DataFrame): DataFrame = {
    val counts = stream.groupBy("sym").agg(count(lit(1)).as("cnt"))
    val b = counts
      .agg(min(col("cnt")).as("minc"), max(col("cnt")).as("maxc")).head()
    // null min ⇔ empty stream: an empty (sym, tid) table
    if (b.isNullAt(0)) counts.select(col("sym"), lit(0).as("tid")).limit(0)
    else symtabOfCounts(counts, b.getLong(0), b.getLong(1))
  }

  /** [[symtabOf]]'s rank over a (sym, cnt) table whose count bounds
    * are already collected: bucketizeDesc on the (min, max) doubles,
    * banded offsets, then a per-bucket `row_number`. Caller owns the
    * counts frame's cache.
    */
  private def symtabOfCounts(counts: DataFrame, minc: Long,
      maxc: Long): DataFrame = {
    val banded = counts
      .withColumn("bkt", Banding.bucketizeDesc(col("cnt").cast(DoubleType),
        lit(minc.toDouble), lit(maxc.toDouble)))
    val offN = Banding.offsets(
      banded.groupBy("bkt").agg(count(lit(1)).as("bc")), Seq("off_n"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("bkt").orderBy(col("cnt").desc, col("sym"))
    banded.join(broadcast(offN), "bkt")
      .select(col("sym"),
        (row_number().over(wIn) + col("off_n")).cast(IntegerType).as("tid"))
  }

  /** The BASE corpus' symbol-id table — a fresh (un-persisted) build;
    * the door reads the PERSISTED store below, this entry exists for
    * the store-determinism law and ad-hoc callers.
    */
  def pretrainSymtab(s: SparkSession, dir: String): DataFrame =
    symtabOf(pretrainSymbolStream(s, dir))

  /** One-time BASE symbol-id-table store (vocabulary-sized parquet,
    * fit once per sf dir beside the tokenizer store — the
    * gram/LM/DSIR-store convention): the ingest-time artifact the
    * streaming pretrain door encodes every delta batch against. At
    * 100 TB the id table is written when the base artifact is packed
    * and read forever; rebuilding it per ingest session would re-scan
    * the survivor corpus each time.
    */
  def ensurePretrainSymtabStore(s: SparkSession, dir: String): DataFrame = {
    val path = Sources.ensureStore(dir, "pretrain_symtab_v1") { tmp =>
      // persist the stream for the build: symtabOf reads it twice (the
      // count-bounds collect and the written rank), and the stream is
      // the dominant cost (battery -> dedup window -> encode join)
      val stream = pretrainSymbolStream(s, dir).persist()
      try symtabOf(stream).write.mode("overwrite").parquet(tmp)
      finally { stream.unpersist(); () }
    }
    s.read.parquet(path)
  }

  /** Encode ANY battery-surviving (doc_id, w) frame with the persisted
    * cleaned tokenizer and a GIVEN symbol-id table: words map to their
    * post-merge symbol sequences (sub-floor/unseen words pass through
    * as self-tokens), symbols map to ids through `symtab`, and symbols
    * ABSENT from it — delta-batch words the base corpus never saw —
    * take the UNK id 0 (symtab ids start at 1). Returns
    * (doc_id, ids, n_tokens) in document order, the
    * [[pretrainEncodedDocs]] contract.
    */
  def encodeWithTokenizer(s: SparkSession, dir: String, kept: DataFrame,
      symtab: DataFrame): DataFrame =
    encodeWithVocab(kept, cleanTokenizerVocab(s, dir), symtab)

  /** [[encodeWithTokenizer]] with the tokenizer's (word, syms) view
    * passed EXPLICITLY — the streaming pretrain door reads (and
    * persists) the vocab store once per stream and encodes every
    * micro-batch against the cached frame; the per-dir form above
    * re-derived the view (a parquet store read) on every call, which a
    * foreachBatch body pays per micro-batch (round-16 optimization).
    */
  def encodeWithVocab(kept: DataFrame, vocab: DataFrame,
      symtab: DataFrame): DataFrame =
    kept
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "word")))
      .join(vocab, Seq("word"), "left")
      .select(col("doc_id"), col("pos"),
        posexplode(coalesce(col("syms"), array(col("word"))))
          .as(Seq("spos", "sym")))
      .join(symtab, Seq("sym"), "left")
      .select(col("doc_id"), col("pos"), col("spos"),
        coalesce(col("tid"), lit(0)).as("tid"))
      .groupBy("doc_id")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("spos"), col("tid")))),
        x => x.getField("tid")).as("ids"))
      .select(col("doc_id"), col("ids"),
        size(col("ids")).cast(LongType).as("n_tokens"))

  /** One-time BASE-corpus fingerprint store (the signature/LM/DSIR-store
    * convention): the content fingerprints of the curation survivors,
    * persisted once per sf dir. At 100 TB "has this exact content been
    * ingested already" is answered by an anti-join against this compact
    * one-column table (optionally bloom-prefiltered, q_dedup_bloom),
    * never by re-reading the base corpus.
    */
  def ensurePretrainFpStore(s: SparkSession, dir: String): DataFrame =
    Sources.parquetStore(s, dir, "pretrain_fp_v1") {
      // kept docs are fp-unique by construction (first-id-per-fp dedup)
      batteryKeptDocs(Tables(s, dir, "documents")).select("fp")
        .distinct()
    }

  /** The streaming pretrain door's synthesized delta crawl (the
    * q_dedup_bloom convention; the oracle rebuilds it via CTE — the
    * synthesized-input rule): every 13th doc re-submitted VERBATIM (a
    * true dup the door must drop against the base fingerprint store)
    * and every 7th doc with a novel suffix token (new content that must
    * survive, encode — exercising the UNK id for the unseen word — and
    * pack). Ids offset +5e6/+6e6, clear of the corpus, the bloom
    * fixture's +1e6/+2e6, and the +1e9 planted-copy convention.
    */
  def pretrainDeltaDocs(s: SparkSession, dir: String): DataFrame = {
    val doc = Tables(s, dir, "documents")
      .select("doc_id", "text", "source", "lang")
    doc.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"),
        col("source"), col("lang"))
      .unionAll(doc.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat(col("text"), lit(" graftdelta")).as("text"),
          col("source"), col("lang")))
  }

  /** q_pipeline_pretrain's pack-and-emit over an encoded
    * (doc_id, ids, n_tokens) frame, shard ids offset by `shardBase` —
    * factored (round-12) so the ingest door packs each deterministic
    * ingest group into its own shard-id range (group g owns
    * [g·shardBase0, (g+1)·shardBase0): disjoint as long as a group
    * stays under shardBase0 × budget tokens — the caller's documented
    * contract). Same banded prefix sum, straggler-split explode, and
    * id-slice emission as the capstone.
    */
  def packedSegmentsOf(docs0: DataFrame, shardBase: Long,
      budget: Long = 2048L, persistInput: Boolean = true): DataFrame = {
    // persistInput: the band-offsets job and the emit pass both read
    // the (potentially expensive) encoded input, so the default caches
    // it here — but the cache is unreachable by the caller (round-12
    // review), so a long-lived caller that has ALREADY persisted an
    // upstream frame (the streaming door's per-batch `encoded`) passes
    // false and keeps release in its own hands; the recompute between
    // the two passes is then just the cheap k/bkt hash columns over its
    // cached rows.
    val keyed = docs0
      .withColumn("k",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast(LongType))
      .withColumn("bkt", Banding.bucketize(
        col("k").cast(DoubleType), lit(0.0), lit(4294967296.0)))
    val docs = if (persistInput) keyed.persist() else keyed
    val off = Banding.offsets(
      docs.groupBy("bkt").agg(sum(col("n_tokens")).as("tc")), Seq("off"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("bkt").orderBy(col("k"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.join(broadcast(off), "bkt")
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(wIn), lit(0L)) + col("off"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("cum_before"), col("ids"),
        explode(expr(s"sequence(cum_before div $budget," +
          s" (cum_before + n_tokens - 1) div $budget)")).as("shard"))
      .select(col("shard"), col("doc_id"),
        greatest(col("shard") * budget - col("cum_before"), lit(0L))
          .as("start_tok"),
        (least((col("shard") + 1) * budget,
          col("cum_before") + col("n_tokens")) - col("cum_before") - 1)
          .as("end_tok"),
        (greatest(col("shard") * budget, col("cum_before"))
          - col("shard") * budget).as("off_in_shard"),
        col("ids"))
      .select((col("shard") + lit(shardBase)).as("shard"), col("doc_id"),
        col("start_tok"), col("end_tok"), col("off_in_shard"),
        array_join(transform(
          slice(col("ids"), (col("start_tok") + 1).cast(IntegerType),
            (col("end_tok") - col("start_tok") + 1).cast(IntegerType)),
          x => x.cast(StringType)), "-").as("ids"))
  }

  /** One-time DSIR model store (the incremental-ingest convention of the
    * span/signature/centroid stores): per-bucket target (lang=en) and
    * raw bigram counts over the BASE half (doc_id % 2 == 0), persisted
    * once per sf dir. At 100 TB the models are fit once on the trusted
    * base and every delta batch scores against this 1024-row artifact —
    * the base corpus is never re-read at ingest time.
    */
  def ensureDsirModelStore(s: SparkSession, dir: String): String =
    Sources.ensureStore(dir, "dsir_model_v1") { tmp =>
      dsirCountsOf(dsirBuckets(Tables(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)))
        .write.mode("overwrite").parquet(tmp)
    }

  /** Ingest-time DSIR profile of `docs` against the persisted base
    * models — the q_stream_dsir per-batch computation, factored so the
    * spec can assert 1-batch == 4-batch equivalence.
    */
  def dsirProfileAgainst(docs: DataFrame, models: DataFrame): DataFrame =
    dsirScore(dsirBuckets(docs), models)
      .filter(col("log_w") > 0)
      .select(col("doc_id"), col("lang"),
        size(col("bks")).cast(LongType).as("n_bigrams"),
        round(col("log_w"), 6).as("log_w"))

  /** The Gopher battery + verdict over any documents frame — the
    * q_gopher_rules computation, factored so the ingest-time twin
    * (Streaming.q_stream_quality) applies the identical rules to each
    * micro-batch. Stateless map pass.
    */
  def gopherProfile(docs: DataFrame): DataFrame =
    gopherStats(docs)
      .select(col("doc_id"), col("n_words"),
        round(col("mean_wlen"), 6).as("mean_word_len"),
        round(col("sym_ratio"), 6).as("symbol_ratio"),
        round(col("alpha_ratio"), 6).as("alpha_word_ratio"),
        col("n_stop_hits"),
        gopherVerdict.as("verdict"))

  /** Structured-PII pattern battery (q_pii_scrub / q_pii_report /
    * q_stream_pii_scrub). Dialect-portable by construction: character
    * classes, bounded quantifiers, and `\b` only — no lookaround, no
    * backreferences — so Java regex (Spark codegen) and RE2 (DuckDB)
    * match identically and the oracle runs the same strings verbatim.
    * Both engines use leftmost-first greedy matching on these shapes.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    // (class, pattern, replacement) — applied IN THIS ORDER.
    // Round-15 breadth (round-14 verdict task 7): ipv6 / card / key
    // join the battery. Class-interplay audit (why the sequential
    // order stays sound): the SSN shape can never fire inside a
    // 4-4-4-4 card number (every 3-digit run is either preceded by a
    // digit — no \b — or followed by a 4th digit), card never fires on
    // 3-3-4 phone tails, ipv4 needs dots where ipv6 has colons, and
    // the key prefix is letter-anchored where every numeric class is
    // digit-anchored.
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("id", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<ID>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}\\b", "<PHONE>"),
    // ipv6, three anchored arms (round-15 review: the first cut matched
    // only the planted h:h:h:h::h shape, leaking every other real
    // address through a green n_residual): (a) the full 8-group form,
    // (b) any mid/end '::' compression with >= 1 group on each side —
    // a group run, an empty group, then >= 1 more groups — and (c) the
    // leading-'::' form (::1, ::ffff:0:0), which cannot carry \b
    // before a colon so the '::' literal itself is the left delimiter.
    // Not matched, documented: a trailing-'::' address ("fe80::") —
    // \b cannot anchor after ':' and RE2 has no lookaround to express
    // it; rare in prose and over-matching "x::" tokens would be worse.
    // Times/MACs stay clean: both lack '::' and have < 8 groups.
    ("ipv6", "(?:\\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\\b" +
      "|\\b(?:[0-9A-Fa-f]{1,4}:){1,6}(?::[0-9A-Fa-f]{1,4}){1,6}\\b" +
      "|::[0-9A-Fa-f]{1,4}(?::[0-9A-Fa-f]{1,4}){0,6}\\b)", "<IPV6>"),
    ("card", "\\b[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}\\b", "<CARD>"),
    ("key", "\\bsk_(live|test)_[A-Za-z0-9]{8,64}\\b", "<KEY>"))

  /** Literal REQUIRED by each class's pattern (round-15 optimization):
    * email's pattern has a mandatory '@', ssn/card a mandatory '-',
    * ipv4 a mandatory '.', phone a mandatory '+', every ipv6 arm a
    * mandatory ':', key the literal "sk_" — so `contains(text, lit)`
    * false ⇒ the regex CANNOT match, count is 0 and replace is
    * identity, EXACTLY. A contains scan is a plain memchr-grade pass
    * where the regex pass trials the automaton at every position
    * (the ipv6 three-arm alternation especially), so guarding turns
    * the battery's per-row cost from 7 regex scans into ~7 cheap
    * literal scans + regex only on rows that can match — on a mostly
    * clean corpus (the normal 100 TB case; the fixtures plant PII on
    * 1/13..1/37 moduli and carry ZERO organic guard literals) that is
    * nearly the whole battery. Guards are derived here next to the
    * patterns so a class edit that drops the literal from its pattern
    * is caught by the spec probing each class through the guarded
    * path (AnalyticsSpec pins guarded == unguarded per class).
    */
  val PiiGuardLiterals: Map[String, String] = Map(
    "email" -> "@", "id" -> "-", "ip" -> ".", "phone" -> "+",
    "ipv6" -> ":", "card" -> "-", "key" -> "sk_")

  /** Per-class guarded match count: exact-identical to a bare
    * regexp_count by the guard-implication argument above — INCLUDING on
    * NULL text (round-15 ADVICE): regexp_count(NULL) is NULL, and the
    * guard's contains(NULL, ...) is NULL so the `when` would fall to the
    * 0L branch — the explicit isNull arm preserves the raw battery's
    * null. A class added to [[PiiPatterns]] without a [[PiiGuardLiterals]]
    * entry degrades to the unguarded count (round-15 verdict item 9:
    * never a Map.apply crash at ingest). */
  private def guardedPiiCount(src: Column, cls: String, pat: String): Column =
    PiiGuardLiterals.get(cls) match {
      case Some(g) =>
        when(src.isNull, lit(null).cast(LongType))
          .when(contains(src, lit(g)), regexp_count(src, lit(pat)).cast(LongType))
          .otherwise(lit(0L))
      case None => regexp_count(src, lit(pat)).cast(LongType)
    }

  /** "some class COULD match src" — the union of the class guards
    * (deduplicated, sorted for plan stability). False ⇒ the whole
    * sequential scrub fold is the identity: no replacement string
    * introduces a guard literal, so the original text's literals bound
    * every intermediate step of the fold too. If ANY battery class lacks
    * a guard literal the implication no longer covers the fold — degrade
    * to `true` (always run the fold) rather than silently under-scrub. */
  private def piiAnyGuard(src: Column): Column = {
    val guards = PiiPatterns.map { case (cls, _, _) => PiiGuardLiterals.get(cls) }
    if (guards.exists(_.isEmpty)) lit(true)
    else guards.flatten.distinct.sorted
      .map(l => contains(src, lit(l))).reduce(_ || _)
  }

  /** The sequential scrub fold, gated by ONE combined guard (kept as a
    * single `when` around the unguarded fold so the expression tree
    * stays linear — per-step guards would nest the accumulated column
    * three-fold per class). */
  private def guardedPiiClean(src: Column): Column =
    when(piiAnyGuard(src),
      PiiPatterns.foldLeft(src) { case (c, (_, pat, repl)) =>
        regexp_replace(c, pat, repl)
      }).otherwise(src)

  /** "any PII class matched" over a [[piiScrubProfile]] frame —
    * GENERATED from [[PiiPatterns]] so the doors/queries/report can't
    * drift from the battery's class list when a class is added. */
  def piiFlagged: Column =
    PiiPatterns.map { case (cls, _, _) => col(s"n_$cls") }.reduce(_ + _) > 0

  /** The same flag condition as DuckDB SQL text (over the generated
    * `pii` CTE's columns). */
  private def piiFlaggedSql: String =
    PiiPatterns.map { case (cls, _, _) => s"n_$cls" }.mkString(" + ") + " > 0"

  /** Deterministic planted-PII augmentation (a pure function of doc_id,
    * mirrored verbatim by the oracle's CASE chain): the fixture corpus
    * carries no organic PII, so each class is planted on its own modulus
    * to prove it fires — and moduli coincide (13·17, 13·19, …) so
    * compound documents exercise the sequential replace order too.
    */
  def piiAugmentedDocs(doc: DataFrame): DataFrame = {
    val id = col("doc_id")
    def s(c: Column): Column = c.cast(StringType)
    // eval_once: the augmented text is the root of every downstream
    // battery tower — without the barrier the planner re-inlines this
    // whole concat/CASE chain into each consumer expression (round-15:
    // q_pipeline_pretrain_v2's plan carried 30+ private copies)
    doc.select(col("doc_id"), col("source"), col("lang"),
      call_function("eval_once", concat(col("text"),
      when(id % 13 === 0, concat(lit(" contact user"), s(id),
        lit("@example.com please"))).otherwise(lit("")),
      when(id % 17 === 0, concat(lit(" from 10."), s(id % 256), lit("."),
        s((id * 7) % 256), lit("."), s(id % 100 + 1))).otherwise(lit("")),
      when(id % 19 === 0, concat(lit(" ssn "), lpad(s(id % 1000), 3, "0"),
        lit("-"), lpad(s(id % 100), 2, "0"), lit("-"),
        lpad(s(id % 10000), 4, "0"))).otherwise(lit("")),
      when(id % 23 === 0, concat(lit(" call +1 415-555-"),
        lpad(s(id % 10000), 4, "0"))).otherwise(lit("")),
      when(id % 29 === 0, concat(lit(" addr 2001:db8:85a3:"),
        s(id % 9999), lit("::"), s((id * 7) % 9999))).otherwise(lit("")),
      when(id % 31 === 0, concat(lit(" card 4111-1111-"),
        lpad(s(id % 10000), 4, "0"), lit("-"),
        lpad(s((id * 3) % 10000), 4, "0"))).otherwise(lit("")),
      when(id % 37 === 0, concat(lit(" token sk_live_"),
        lpad(s(id % 1000000000L), 12, "0"))).otherwise(lit("")))).as("text"))
  }

  /** Per-document PII profile: per-class match counts on the raw text,
    * the sequentially scrubbed text's fingerprint + length, and
    * n_residual — the battery re-run on the SCRUBBED text, which must
    * total 0 (no PII survives redaction; the law sits in the oracled
    * output, not just a spec). Every column is a per-row codegen
    * expression: map-only, shuffle-free, 100 TB-safe.
    */
  def piiScrubProfile(docs: DataFrame): DataFrame = {
    // eval_once: clean_text is consumed by the 7 residual counts + md5
    // + length — barrier it so the scrub fold runs once per row
    val clean = call_function("eval_once", guardedPiiClean(col("text")))
    val counts = PiiPatterns.map { case (cls, pat, _) =>
      guardedPiiCount(col("text"), cls, pat).as(s"n_$cls")
    }
    val residual = PiiPatterns.map { case (cls, pat, _) =>
      guardedPiiCount(col("clean_text"), cls, pat)
    }.reduce(_ + _)
    docs.select(Seq(col("doc_id"), col("source")) ++ counts
        :+ clean.as("clean_text"): _*)
      .select(Seq(col("doc_id"), col("source")) ++
        PiiPatterns.map { case (cls, _, _) => col(s"n_$cls") } ++ Seq(
          residual.as("n_residual"),
          md5(col("clean_text")).as("clean_md5"),
          length(col("clean_text")).cast(LongType).as("clean_len")): _*)
  }

  /** q_corpus_clean: THE composed curation verdict in ONE zero-shuffle
    * pass — the FineWeb/Gopher-lineage filter chain a real pipeline
    * runs per document: word-statistics battery first (cheapest), the
    * 13-signal repetition battery only deciding docs the word battery
    * kept, and the structured-PII battery counting what redaction
    * would scrub from survivors. Output per doc: the first-failing
    * verdict across BOTH batteries, the stage that decided it
    * (quality | repetition | kept), and n_pii. All three batteries are
    * per-row maps sharing one projection — the plan has zero
    * exchanges and zero joins (the ORACLE joins its three CTE
    * families; the engine never has to). Runs over the PII-augmented
    * corpus so all three stages are non-vacuous.
    */
  def corpusCleanProfile(docs: DataFrame): DataFrame = {
    val withAll = gopherStats(repetitionStats(piiAugmentedDocs(docs)))
    val gv = gopherVerdict
    val rv = repVerdict
    val nPii = PiiPatterns.map { case (cls, pat, _) =>
      guardedPiiCount(col("text"), cls, pat)
    }.reduce(_ + _)
    withAll.select(
      col("doc_id"),
      when(gv =!= "kept", gv).otherwise(rv).as("verdict"),
      when(gv =!= "kept", lit("quality"))
        .when(rv =!= "kept", lit("repetition"))
        .otherwise(lit("kept")).as("stage"),
      nPii.as("n_pii"))
  }

  /** PII-REDACTED copies of `docs` — the scrub applied as a TRANSFORM
    * (clean text replaces text) rather than a report; stage 0 of the
    * v2 capstone. Same sequential [[PiiPatterns]] fold as
    * [[piiScrubProfile]]'s clean_text. */
  def piiScrubbedDocs(docs: DataFrame): DataFrame =
    // eval_once: the scrubbed text feeds the whole battery chain in
    // corpusCleanKeptOf — barrier it like the augmented text above
    docs.select(col("doc_id"), col("source"), col("lang"),
      call_function("eval_once", guardedPiiClean(col("text"))).as("text"))

  /** The FULL published-funnel survivors (round-14 verdict task 8 —
    * the q_corpus_clean decision feeding the capstone): PII scrub →
    * word-statistics battery → repetition battery → first-id-per-fp
    * exact dedup, over the PII-augmented corpus (so every stage is
    * non-vacuous). The batteries run over the REDACTED text — the
    * published order (you don't quality-score secrets you are about to
    * remove) — and the fingerprint is the scrubbed content's, so two
    * docs differing only in their planted PII dedup together. Returns
    * (doc_id, source, w), the [[pipelineKeptDocs]] contract.
    */
  def corpusCleanKeptDocs(s: SparkSession, dir: String): DataFrame =
    corpusCleanKeptOf(piiAugmentedDocs(
      Sources.spreadScanForCpu(Tables(s, dir, "documents"))))

  /** [[corpusCleanKeptDocs]] over ANY (doc_id, source, lang, text)
    * frame — frame-parameterized so the spec can plant docs proving
    * each funnel stage decides (the fixture's repetition-heavy docs
    * all fail the word battery first, so only plants exercise the
    * repetition drop here — the q_corpus_clean planted-chain
    * convention). */
  def corpusCleanKeptOf(augDocs: DataFrame): DataFrame = {
    val withAll = gopherStats(repetitionStats(piiScrubbedDocs(augDocs)))
    val wFp = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    withAll
      .filter(gopherVerdict === "kept" && repVerdict === "kept")
      .select(col("doc_id"), col("source"), col("w"),
        md5(array_join(col("w"), " ")).as("fp"))
      .withColumn("rn", row_number().over(wFp))
      .filter(col("rn") === 1)
      .select("doc_id", "source", "w")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The reference's flagship query (example.py word count, golden-tested
    // by smoke.sh): scan -> flatMap/explode -> shuffle -> count. DataFrame
    // form gets partial aggregation (= the reference's collectfn) for free.
    "q_wordcount" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(split(col("text"), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))),

    // The same job run through the fidelity core (RDD path, typed
    // mapfn/collectfn/reducefn — SURVEY.md §7.1): proves MapReduceJob
    // against the SQL oracle, not just against itself.
    "q_mr_wordcount" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .select("doc_id", "text").as[(Long, String)].rdd
      val job = MapReduceJob[Long, String, String, Long](
        mapfn = (_, text) => MapReduceJob.words(text).map(w => (w, 1L)),
        reducefn = (_, vs) => vs.sum,
        collectfn = Some((_, vs) => vs.sum))
      job.resultRDD(docs).toDF("word", "cnt")
    }),

    // Chained MapReduce — the reference's multi-stage idiom (run one
    // job, feed its results dict to the next server's datasource):
    // word count, then the classic count-of-counts distribution. Here
    // the chain stays distributed — stage 2 consumes stage 1's RDD, no
    // driver round-trip (the reference forces results through the
    // master's RAM between stages, mincemeat.py:225).
    "q_mr_chained" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .select("doc_id", "text").as[(Long, String)].rdd
      val wc = MapReduceJob[Long, String, String, Long](
        mapfn = (_, text) => MapReduceJob.words(text).map(w => (w, 1L)),
        reducefn = (_, vs) => vs.sum,
        collectfn = Some((_, vs) => vs.sum))
      val countOfCounts = MapReduceJob[String, Long, Long, Long](
        mapfn = (_, cnt) => Iterator((cnt, 1L)),
        reducefn = (_, vs) => vs.sum,
        collectfn = Some((_, vs) => vs.sum))
      countOfCounts.resultRDD(wc.resultRDD(docs)).toDF("cnt", "n_words")
    }),

    // Inverted index — the OTHER canonical MapReduce program (word count's
    // sibling in the original MapReduce paper, §2.1): mapfn emits
    // (word, doc), the combiner folds one map task's postings into a
    // partial list, and the holistic reducefn merges/dedupes/sorts the
    // whole list per word. Postings travel as '-'-joined strings (V2 is
    // both map-value and reduce-output type, so partial lists re-split on
    // merge — the textbook combiner shape), keeping the driver-comparable
    // output scalar. Oracled via DuckDB's ordered string_agg.
    "q_mr_inverted" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .select("doc_id", "text").as[(Long, String)].rdd
      def merge(vs: Seq[String]): String = vs.iterator.flatMap(_.split("-"))
        .map(_.toLong).toSeq.distinct.sorted.mkString("-")
      val job = MapReduceJob[Long, String, String, String](
        mapfn = (id, text) => { val doc = id.toString; MapReduceJob.words(text).map(w => (w, doc)) },
        reducefn = (_, vs) => merge(vs),
        collectfn = Some((_, vs) => merge(vs)))
      job.resultRDD(docs).toDF("word", "postings")
    }),

    // Token counting: whitespace tokens + a BPE-ish regex segmentation
    // + a chars/4 estimate (common LLM heuristic).
    "q_token_count" -> ((s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars_m"),
        size(split(col("text"), "\\s+")).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).as("bpeish_tokens"),
        ceil(length(col("text")) / lit(4.0)).as("est_tokens"))),

    // Quality scoring: length, stopword ratio, punctuation density,
    // mean token length — the standard pretraining-corpus filters.
    "q_text_stats" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .withColumn("n_tok", size(col("w")))
        .filter(col("n_tok") > 0)
      d.select(
        col("doc_id"), col("n_tok"),
        (aggregate(transform(col("w"), t => length(t)), lit(0), (a, x) => a + x)
          .cast(DoubleType) / col("n_tok")).as("avg_tok_len"),
        (countIn(col("w"), stopEn).cast(DoubleType) / col("n_tok")).as("stop_ratio"),
        regexp_count(col("text"), lit("[^a-z0-9 ]")).as("n_punct"),
        (countIn(col("w"), stopEn).cast(DoubleType) / col("n_tok") * lit(0.5)
          + least(col("n_tok"), lit(100)).cast(DoubleType) / lit(100.0) * lit(0.5))
          .as("quality_score"))
    }),

    // Iterative BPE tokenizer TRAINING — the k-round loop q_bpe_step is
    // one step of (the q_pagerank unrolled-iteration pattern applied to
    // merges). Training runs ONCE per sf dir into the persisted
    // tokenizer store (ensureBpeStore — a tokenizer is trained once
    // and read forever): the corpus tokenizes + shuffles exactly once
    // into the distinct-word table; every round then runs at VOCABULARY
    // grain: pair stats are a vocab-bounded agg, the winning pair is a
    // 1-row TakeOrdered collected to the driver (the
    // Banding/exactQuantiles driver-bounded-metadata convention) and
    // baked into the next round's merge fold as literals. The query
    // itself is a read of the stored ordered merge table.
    "q_bpe_train" -> ((s, dir) =>
      bpeStoreMerges(s, dir)
        .select(col("rnd").cast(IntegerType), col("left_sym"),
          col("right_sym"), col("merged"), col("cnt"))),

    // ENCODE with the trained tokenizer — the loop's last step (train →
    // vocab → encode): every document's whitespace words join the
    // PERSISTED post-merge vocabulary (word → symbol sequence, read
    // from the tokenizer store — training is never replayed at encode
    // time), giving the per-doc BPE token count and compression vs
    // whitespace tokens. The join is word-keyed against the
    // VOCABULARY-grain frame (never a per-token merge replay), so
    // encoding costs one tokenize + one vocabulary-bounded join at any
    // corpus size. Words under the trainer's length-2 floor pass
    // through as single tokens.
    "q_bpe_encode" -> ((s, dir) => {
      val enc = bpeEncoderOf(bpeStoreVocab(s, dir))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(filter(split(lower(col("text")), "\\s+"),
            t => length(t) > 0)).as("word"))
        .join(enc, Seq("word"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ws_tokens"),
          sum(coalesce(col("n_bpe"), lit(1L))).as("n_bpe_tokens"))
        .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens"),
          // exact-integer rational via ONE double division, never
          // round()ed — a rational can land exactly on a round-half
          // boundary where the engines' round semantics diverge (the
          // q_token_diversity simpson convention)
          (col("n_bpe_tokens").cast(DoubleType) / col("n_ws_tokens"))
            .as("tokens_per_word"))
    }),

    // The trained tokenizer's FINAL VOCAB SLICE — the artifact shipped
    // alongside q_bpe_train's merge list: after the 5 merge rounds, the
    // top-20 symbols by corpus occurrence (word-frequency-weighted).
    // Reads the persisted tokenizer store (vocabulary-grain input), so
    // the query is a vocab-bounded agg + a TakeOrdered with a
    // (cnt, sym) tiebreak — no corpus scan, no global sort/window.
    "q_bpe_vocab" -> ((s, dir) =>
      bpeStoreVocab(s, dir)
        .select(col("f"), explode(col("syms")).as("sym"))
        .groupBy("sym").agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("sym")).limit(20)),

    // BPE merge-candidate mining — the inner step of byte-pair-encoding
    // tokenizer training: weight every adjacent character pair by its
    // word's corpus frequency and rank the merge candidates. Pair
    // generation runs on the DISTINCT-WORD table (vocabulary-sized, not
    // corpus-sized — the standard BPE-training trick), so the heavy
    // corpus pass is just a word count; counts are exact integers and
    // the top-10 is a TakeOrdered with a (cnt, pair) tiebreak.
    "q_bpe_step" -> ((s, dir) => {
      val wc = Tables(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("f"))
      wc.select(col("f"),
          explode(expr("transform(sequence(1, length(word) - 1)," +
            " i -> substring(word, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(10)
    }),

    // Lexical-diversity scoring: type-token ratio, Simpson concentration
    // index, and Shannon entropy of each document's token distribution —
    // the repetition/diversity axis of pretraining quality filters (a
    // low-entropy doc is boilerplate or spam). One explode + one
    // (doc, word) agg + one doc agg. ttr and simpson are EXACT-integer
    // rationals surfaced by one double division (simpson = Σc²/N² — a
    // folded Σp² often lands exactly on a round-half boundary, where the
    // two engines' round() semantics disagree; caught at sf0.1).
    // Entropy's ln makes the value irrational — never on a boundary — so
    // the sorted-list fold (identical IEEE op order on both engines) +
    // round 6 is safe there. Per-doc state is vocabulary-bounded, not
    // corpus-bounded, so the collect_list is safe at any corpus size.
    "q_token_diversity" -> ((s, dir) => {
      val counts = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      counts.groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).cast(IntegerType).as("n_types"),
          sum(col("c") * col("c")).as("sum_sq"),
          sort_array(collect_list(struct(col("word"), col("c")))).as("wc"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          (col("n_types").cast(DoubleType) / col("n_tokens")).as("ttr"),
          (col("sum_sq") / (col("n_tokens") * col("n_tokens"))).as("simpson"),
          round(aggregate(col("wc"), lit(0.0),
            (acc, x) => acc - (x("c") / col("n_tokens")) * log(x("c") / col("n_tokens"))), 6)
            .as("entropy"))
    }),

    // BM25 ranking (Lucene idf form, k1=1.2 b=0.75) for a fixed query
    // term set — the IR scoring op a retrieval corpus needs. Stats
    // passes are term-filtered BEFORE their shuffles (the 4-term filter
    // pushes to the scan), per-term partial scores pivot to columns and
    // sum in FIXED literal order (no nondeterministic double fold), and
    // the top-100 is TakeOrderedAndProject on (score, doc_id) — no
    // global window. One persisted tokenize feeds tf, df and doc-length.
    "q_bm25" -> ((s, dir) => {
      val qTerms = Seq("hash", "join", "query", "vector")
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .persist()
      val docLen = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = docLen.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      val qtok = tok.filter(col("word").isin(qTerms: _*))
      val dfT = qtok.groupBy("word").agg(countDistinct(col("doc_id")).as("df"))
      val tf = qtok.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs")
      val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
      val scoreT = idf * (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
      tf.join(broadcast(dfT), "word")
        .join(docLen, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("word"), scoreT.as("s"))
        .groupBy("doc_id").pivot("word", qTerms).agg(first(col("s")))
        .na.fill(0.0, qTerms)
        .select(col("doc_id"),
          round(col("hash") + col("join") + col("query") + col("vector"), 6)
            .as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(100)
    }),

    // Bigram-LM perplexity scoring (add-one smoothing) — the CCNet-style
    // "perplexity under a corpus LM" quality filter. The LM itself (uni/
    // bigram counts, v_size) comes from the one-time persisted store
    // (ensureBigramLmStore — fit once per corpus, scored many times; the
    // pre-round-9 form re-counted the whole corpus every run). Counts
    // are exact integers; each bigram's log-prob is ln(cb+1) − ln(cu+V)
    // on those integers, folded per doc in POSITION order (sorted list,
    // identical IEEE sequence both engines), and the exp/round-6 surface
    // is irrational so never boundary-exact. The scoring pass is one
    // tokenize + a linear shuffle join on the bigram key.
    "q_perplexity" -> ((s, dir) => {
      val (uni, bc) = bigramLm(s, dir)
      // spread-gated before the CPU-bound tokenize + bigram explode
      // (round-16); q_ccnet_buckets reuses this entry, so its scoring
      // pass parallelizes too
      perplexityAgainst(Sources.spreadScanForCpu(
        Tables(s, dir, "documents")), uni, bc, uni.count())
    }),

    // CCNet perplexity bucketing (Wenzek et al. 2020): split the corpus
    // into head/middle/tail terciles by bigram-LM perplexity — CCNet
    // keeps head+middle for training. Reuses queries("q_perplexity")
    // (one shared ppl definition), computes the two tercile cutpoints
    // with the bounded 3-pass histogram walk (Holistic.exactQuantiles —
    // type-7 on both engines, never a global ntile sort and never
    // `percentile`'s whole-corpus buffer), and bucket-assigns map-side
    // against the literal cutpoints. Output is the 3-row bucket report.
    "q_ccnet_buckets" -> ((s, dir) => {
      val ppl = queries("q_perplexity")(s, dir)
        .persist() // cutpoint walk + the bucket assignment share it
      val Seq(c1, c2) = graft.operators.Holistic.exactQuantiles(
        ppl, "ppl", Seq(0.333333, 0.666667))
      ppl
        .withColumn("bucket",
          when(col("ppl") <= lit(c1), "head")
            .when(col("ppl") <= lit(c2), "middle")
            .otherwise("tail"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("n_bigrams"),
          round(sum(col("ppl").cast(DecimalType(18, 6))).cast(DoubleType)
            / count(lit(1)), 6).as("mean_ppl"))
    }),

    // Term co-occurrence / PMI over the top-50 vocabulary — the
    // collocation-mining classic. The vocabulary is a TakeOrdered top-K
    // (df desc, word tiebreak) BROADCAST against the per-doc distinct
    // token sets, so the pair explosion is K²-bounded per doc — never the
    // n² token self-join. The tiny vocab-filtered frame is persisted:
    // one corpus tokenization feeds both sides of the pair join. All
    // counts are exact integers; npmi is ln-on-rationals, rounded 6.
    "q_cooccur" -> ((s, dir) => {
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(filter(split(col("text"), "\\s+"),
            w => length(w) > 0))).as("word"))
      val vocab = tok.groupBy("word").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("word")).limit(50)
      val vtok = tok.join(broadcast(vocab), "word").persist()
      val nDocs = Tables(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val a = vtok.select(col("doc_id"), col("word").as("w1"), col("df").as("df1"))
      val b = vtok.select(col("doc_id"), col("word").as("w2"), col("df").as("df2"))
      val pab = col("pair_docs").cast(DoubleType) / col("n_docs")
      val pa = col("df1").cast(DoubleType) / col("n_docs")
      val pb = col("df2").cast(DoubleType) / col("n_docs")
      a.join(b, Seq("doc_id")).filter(col("w1") < col("w2"))
        .groupBy("w1", "w2")
        .agg(count(lit(1)).as("pair_docs"),
          max(col("df1")).as("df1"), max(col("df2")).as("df2"))
        .filter(col("pair_docs") >= 5)
        .crossJoin(broadcast(nDocs))
        .select(col("w1"), col("w2"), col("pair_docs"), col("df1"), col("df2"),
          round(log(pab / (pa * pb)) / -log(pab), 6).as("npmi"))
    }),

    // End-to-end curation pipeline — the operators composed the way a
    // training-data run actually chains them, in ONE declarative DAG
    // Catalyst plans globally: tokenize → language gate → quality gates
    // (length + stopword ratio) → exact near-dup removal (first doc_id
    // per content fingerprint wins) → chunk budgeting, reported as a
    // per-source funnel. Two aggregations (input grain, kept grain)
    // joined on the 20-row source dim; the fingerprint window is the same
    // shuffle shape as q_dedup_exact. Integer-exact chunk math ((n+31)
    // div 32), ratio exact-rational.
    "q_pipeline_e2e" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("doc_id")
      val docs = Tables(s, dir, "documents")
        .withColumn("tok", filter(split(col("text"), " "), t => length(t) > 0))
        .withColumn("n_tok", size(col("tok")))
      val inAgg = docs.groupBy("source").agg(count(lit(1)).as("docs_in"))
      val kept = docs
        .filter(col("lang") === "en" && col("n_tok") >= 5 &&
          countIn(col("tok"), stopEn).cast(DoubleType) / col("n_tok") >= 0.04)
        .withColumn("fp", md5(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      val keptAgg = kept.groupBy("source").agg(
        count(lit(1)).as("docs_kept"),
        sum(col("n_tok")).as("total_tokens"),
        sum(expr("(n_tok + 31) div 32")).as("n_chunks"))
      inAgg.join(keptAgg, Seq("source"), "left")
        .select(col("source"), col("docs_in"),
          coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
          coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
          coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
          (coalesce(col("docs_kept"), lit(0L)).cast(DoubleType) / col("docs_in"))
            .as("keep_rate"))
    }),

    // The modern LLM-curation pipeline end-to-end — Gopher quality
    // battery (Rae et al. 2021) → exact content dedup → exact-substring
    // span masking (Lee et al. 2021) — composed as ONE Catalyst-planned
    // DAG and reported as the per-source funnel a curation run ships.
    // Stage costs at 100 TB: the quality battery is a scan-rate map;
    // dedup is one shuffle on the content fingerprint; span masking is
    // one span-hash shuffle over SURVIVORS ONLY (each stage shrinks the
    // next stage's input — the reason real pipelines order cheap gates
    // first) plus per-doc island windows. The survivor set is persisted
    // where a production run would checkpoint between stages. The
    // exact-dedup stage is vacuous on the sf0.01 fixture (no duplicate
    // normalized texts exist there) — TextSpec's constructed corpus
    // exercises all three stages with hand-computed funnel numbers.
    // The TOKENIZER pipeline capstone — train the tokenizer on the
    // CLEANED corpus, not the raw crawl (training on raw data burns
    // merges on boilerplate the curation removes anyway): Gopher battery
    // → exact content dedup (first-id-per-fp, the q_pipeline_llm stages,
    // single-sourced) → 5 BPE merge rounds over the SURVIVOR word table
    // → encode the survivors with the trained merges. Output is the
    // per-source compression report. Cost shape: the battery+dedup are
    // the shared scan/fp-shuffle; training is AMORTIZED into the
    // one-time cleaned-tokenizer store (first build pays one survivor
    // word-count shuffle + vocabulary-grain rounds); encoding is one
    // vocabulary-bounded join.
    "q_pipeline_tokenizer" -> ((s, dir) => {
      // training (stage 3) rides the persisted CLEANED-corpus tokenizer
      // store — built once per sf dir over the same pipelineKeptDocs
      // survivor set this query encodes, so train-time and encode-time
      // views of "the cleaned corpus" cannot diverge
      val enc = bpeEncoderOf(
        s.read.parquet(s"${ensureCleanBpeStore(s, dir)}/vocab"))
      val kept = pipelineKeptDocs(s, dir)
      kept.select(col("doc_id"), col("source"), explode(col("w")).as("word"))
        .join(enc, Seq("word"), "left")
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("docs_kept"),
          count(lit(1)).as("ws_tokens"),
          // sub-floor words (length < 2) pass through as single tokens
          sum(coalesce(col("n_bpe"), lit(1L))).as("bpe_tokens"))
        .select(col("source"), col("docs_kept"), col("ws_tokens"),
          col("bpe_tokens"),
          // exact rational via one double division (never round()ed)
          (col("bpe_tokens").cast(DoubleType) / col("ws_tokens"))
            .as("tokens_per_word"))
    }),

    "q_pipeline_llm" -> ((s, dir) => {
      // spread-gated before the CPU-bound battery (see pipelineKeptDocs)
      val judged = gopherStats(Sources.spreadScanForCpu(
          Tables(s, dir, "documents")))
        .withColumn("pass_q", gopherVerdict === "kept")
        .select("doc_id", "source", "w", "n_words", "pass_q")
        .persist() // stage-1 output: read by the funnel agg + the dedup stage
      val wFp = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("doc_id")
      val kept = judged.filter(col("pass_q"))
        .withColumn("fp", md5(array_join(col("w"), " ")))
        .withColumn("rn", row_number().over(wFp))
        .filter(col("rn") === 1)
        .select("doc_id", "source", "w", "n_words")
        .persist() // read by the span stage + two funnel aggs
      val maskAgg = dupIntervalsOfTokens(kept)
        .groupBy("doc_id")
        .agg(sum(col("end_tok") - col("start_tok") + 1).as("masked"))
        .join(kept.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(sum(col("masked")).as("tokens_masked"))
      val inAgg = judged.groupBy("source").agg(
        count(lit(1)).as("docs_in"),
        sum(when(col("pass_q"), 1L).otherwise(0L)).as("docs_quality"))
      val keptAgg = kept.groupBy("source").agg(
        count(lit(1)).as("docs_kept"),
        sum(col("n_words")).as("tokens_kept"))
      inAgg.join(keptAgg, Seq("source"), "left")
        .join(maskAgg, Seq("source"), "left")
        .select(col("source"), col("docs_in"), col("docs_quality"),
          coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
          coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
          coalesce(col("tokens_masked"), lit(0L)).as("tokens_masked"),
          (coalesce(col("tokens_kept"), lit(0L))
            - coalesce(col("tokens_masked"), lit(0L))).as("tokens_out"),
          round(coalesce(col("docs_kept"), lit(0L)).cast(DoubleType)
            / col("docs_in"), 6).as("keep_rate"),
          when(coalesce(col("tokens_kept"), lit(0L)) > 0,
            round(coalesce(col("tokens_masked"), lit(0L)).cast(DoubleType)
              / col("tokens_kept"), 6)).otherwise(lit(0.0)).as("mask_rate"))
    }),

    // Temperature-based mixture sampling (the T5 / multilingual-LM
    // source-flattening rule): per-source sampling rate proportional to
    // n_tokens^(alpha-1), normalized so the smallest source keeps
    // everything — large sources are subsampled toward a flatter
    // mixture. The rate quantizes to ppm BEFORE the keep decision, so
    // keep = (md5 bucket % 1e6 < rate_ppm) is INTEGER-exact on both
    // engines (the only cross-engine double is pow, buried under the
    // ppm rounding). One stats agg (source-bounded) off the persisted
    // tokenized frame, a broadcast of the 20-row rate table, and a
    // map-side keep — scan-rate at any corpus size. Token counts use
    // the family's normTokens so source sizes match what the rest of
    // the curation suite reports.
    "q_mixture_temperature" -> ((s, dir) => {
      val alpha = 0.3
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(normTokens(col("text"))).cast(LongType).as("n_tok"))
        .persist() // stats agg + the keep-filter scan share it
      val stats = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      val w = stats.withColumn("wt",
        pow(col("n_tokens").cast(DoubleType), lit(alpha - 1)))
      val rates = w.crossJoin(broadcast(w.agg(max(col("wt")).as("mw"))))
        .withColumn("rate_ppm",
          round(col("wt") / col("mw") * 1000000, 0).cast(LongType))
        .select("source", "n_docs", "n_tokens", "rate_ppm")
      val kept = d.join(broadcast(rates), "source")
        .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast(LongType) % 1000000 < col("rate_ppm"))
        .groupBy("source").agg(
          count(lit(1)).as("kept_docs"), sum("n_tok").as("kept_tokens"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"), col("rate_ppm"),
          coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
    }),

    // Deterministic training-shard shuffle — the final data op of an
    // LLM run: turn the curated corpus into randomized shards. A
    // reingest-stable md5 key gives each doc a uniform position, the
    // BANDED global rank (the q_auc/q_gini prefix-sum machinery — no
    // unpartitioned window at any corpus size) orders the corpus by it,
    // and strided assignment deals ranks round-robin into 64 shards, so
    // every shard is itself a uniform sample in shuffled order. Cost:
    // one banded window + the ≤1024-row offsets fold; no global sort.
    // Sequence PACKING for pretraining batches — the step after the
    // shard shuffle: stream the corpus in reingest-stable md5 order and
    // fill fixed 2048-token shards contiguously (greedy fill: a doc
    // belongs to the shard its FIRST token lands in — the standard
    // document-packing rule; the trainer's loader splits stragglers).
    // The global token prefix sum rides the banded two-level machinery
    // (bucketize + driver-folded band offsets + within-band windows), so
    // there is NO unpartitioned running-sum window at any corpus size
    // and every output column is exact integer arithmetic — fully
    // oracled. One corpus scan, one ≤1024-row metadata collect.
    "q_pack_sequences" -> ((s, dir) => {
      val budget = 2048L
      packCumBefore(Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
            .cast(LongType).as("n_tokens")), "n_tokens")
        .select(col("doc_id"), col("n_tokens"),
          // integer div, not double-divide-then-cast: exact at any scale
          expr(s"cum_before div $budget").as("shard"),
          (col("cum_before") % lit(budget)).as("off_in_shard"))
    }),

    // The PACKED-SEQUENCE ARTIFACT a trainer's loader actually consumes —
    // q_pack_sequences assigns each doc its (shard, offset); this emits
    // the per-shard segment table INCLUDING STRAGGLER SPLITS: one row
    // per (shard, doc) overlap with the doc-local token range
    // [start_tok, end_tok] (0-based inclusive) and the in-shard position
    // it lands at, so shard s is rebuilt by concatenating its rows in
    // off_in_shard order (the document-boundary / attention-mask info is
    // exactly the row boundaries). A doc spanning k shards explodes into
    // k rows via sequence(first_shard, last_shard) — total output is
    // n_docs + total_tokens/2048 rows, both linear in corpus size; the
    // prefix sum itself rides the same banded two-level machinery (no
    // unpartitioned window at any corpus size). Every column is exact
    // integer arithmetic — fully oracled.
    "q_pack_emit" -> ((s, dir) => {
      val budget = 2048L
      packCumBefore(Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
            .cast(LongType).as("n_tokens")), "n_tokens")
        .filter(col("n_tokens") > 0) // an empty doc occupies no shard slot
        .select(col("doc_id"), col("n_tokens"), col("cum_before"),
          explode(expr(s"sequence(cum_before div $budget," +
            s" (cum_before + n_tokens - 1) div $budget)")).as("shard"))
        .select(col("shard"), col("doc_id"),
          // the slice of THIS doc that lands in THIS shard, and where
          greatest(col("shard") * budget - col("cum_before"), lit(0L))
            .as("start_tok"),
          (least((col("shard") + 1) * budget,
            col("cum_before") + col("n_tokens")) - col("cum_before") - 1)
            .as("end_tok"),
          (greatest(col("shard") * budget, col("cum_before"))
            - col("shard") * budget).as("off_in_shard"))
    }),

    // Detection → training-data effect, closed (SURVEY §7.9 candidate,
    // landed round 14): pack the SPAN-MASKED corpus — q_span_intervals
    // finds the Lee et al. duplicated-token ranges, q_span_mask drops
    // the tokens inside them, and this packs what is LEFT into the
    // fixed 2048-token shards, so the dedup operator's effect shows up
    // where it matters: fewer shards of training data. Per doc,
    // n_kept = n_tokens − Σ(end−start+1) over its intervals — EQUAL to
    // q_span_mask's kept-token count because the gaps-and-islands
    // intervals are maximal, pairwise disjoint, and within [1, n] by
    // construction (spec-pinned conservation law), so the mask itself
    // is never materialized here: one interval aggregate per doc, then
    // the same banded prefix sum as q_pack_sequences, weighted by
    // n_kept. Every column exact integer arithmetic — fully oracled.
    "q_pack_masked" -> ((s, dir) => {
      val budget = 2048L
      val masked = spanIntervals(s, dir)
        .groupBy("doc_id")
        .agg(sum(col("end_tok") - col("start_tok") + 1).as("_m"))
      // non-empty tokens only: normTokens of an empty/whitespace-only
      // doc is [""], and counting that phantom token would hand the doc
      // a real shard slot — and make the masked pack disagree with
      // q_pack_sequences' zero on the same doc (round-14 review). For
      // any doc with content the filter is a no-op (trim+squeeze leaves
      // no empty tokens), so interval arithmetic is unaffected.
      val perDoc = Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(filter(normTokens(col("text")), t => length(t) > 0))
            .cast(LongType).as("n_tokens"))
        .join(masked, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("_m"), lit(0L)).as("n_masked"),
          (col("n_tokens") - coalesce(col("_m"), lit(0L))).as("n_kept"))
      packCumBefore(perDoc, "n_kept")
        .select(col("doc_id"), col("n_tokens"), col("n_masked"),
          col("n_kept"),
          expr(s"cum_before div $budget").as("shard"),
          (col("cum_before") % lit(budget)).as("off_in_shard"))
    }),

    // THE PRETRAINING CAPSTONE — the artifact a trainer's loader
    // actually mounts: clean (Gopher) → exact-dedup → encode with the
    // PERSISTED cleaned tokenizer into token-ID sequences
    // (pretrainEncodedDocs) → pack the ID sequences into fixed
    // 2048-token shards with straggler splits → emit per-(shard, doc)
    // segments carrying the actual ID slice ('-'-joined, the
    // q_encode_ids convention). Shard s is rebuilt by concatenating its
    // `ids` in off_in_shard order; row boundaries are the
    // document-boundary / attention-mask info. The prefix sum rides the
    // banded two-level machinery (no unpartitioned window at any corpus
    // size); output is n_docs + total_ids/2048 rows, linear in corpus
    // size. The ID payload itself is O(corpus tokens) through ONE hash
    // shuffle — unavoidable and correct: it IS the emitted artifact.
    // Every column is exact integer arithmetic — fully oracled.
    "q_pipeline_pretrain" -> ((s, dir) =>
      packedSegmentsOf(pretrainEncodedDocs(s, dir), shardBase = 0L)),

    // THE CAPSTONE, v2 — the FULL published funnel as ONE oracled
    // artifact (round-14 verdict task 8): PII scrub → word battery →
    // repetition battery → exact dedup → encode → pack. v1 gates on
    // the word battery + dedup only; v2 consumes the q_corpus_clean
    // decision (both batteries over the REDACTED text) and encodes
    // with the PERSISTED v1 tokenizer + symbol table — the production
    // pattern: the tokenizer is a versioned artifact, not refit on
    // every curation refinement, so symbols the base never saw take
    // the UNK id 0 (the ingest door's rule, same oracle coalesce).
    // Plan shape unchanged from v1: batteries are per-row maps in one
    // projection, dedup is one fp-window, the pack rides the banded
    // prefix sum — no new shuffle class.
    "q_pipeline_pretrain_v2" -> ((s, dir) =>
      packedSegmentsOf(
        encodeWithTokenizer(s, dir,
          corpusCleanKeptDocs(s, dir).select("doc_id", "w"),
          ensurePretrainSymtabStore(s, dir)),
        shardBase = 0L)),

    // THE ARTIFACT'S INTEGRITY MANIFEST — what a trainer validates
    // before mounting the packed shards: per-shard segment count, token
    // count, and an order-exact content checksum (md5 of the shard's
    // '-'-joined token-id stream, rebuilt by concatenating segment
    // slices in off_in_shard order — the same reconstruction rule the
    // no-token-lost law pins). One shard-keyed agg over the capstone's
    // emitted segments; output is n_shards rows (total_ids/2048 —
    // metadata-sized at any corpus). Fully oracled: the DuckDB side
    // groups the IDENTICAL shared `emitted` CTE relation.
    "q_pretrain_manifest" -> ((s, dir) =>
      packedSegmentsOf(pretrainEncodedDocs(s, dir), shardBase = 0L)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_segments"),
          sum(col("end_tok") - col("start_tok") + 1).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("off_in_shard"), col("ids")))),
            x => x.getField("ids")), "-")).as("shard_checksum"))),

    "q_corpus_shuffle" -> ((s, dir) => {
      val nShards = 64
      val keyed = Tables(s, dir, "documents")
        .select(col("doc_id"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast(LongType).as("shuffle_key"))
        .withColumn("bkt", Banding.bucketize(
          col("shuffle_key").cast(DoubleType), lit(0.0), lit(4294967296.0)))
      val off = Banding.offsets(
        keyed.groupBy("bkt").agg(count(lit(1)).as("bc")), Seq("off"))
      val wIn = org.apache.spark.sql.expressions.Window
        .partitionBy("bkt").orderBy(col("shuffle_key"), col("doc_id"))
      keyed.join(broadcast(off), "bkt")
        .withColumn("rnk", row_number().over(wIn).cast(LongType) + col("off"))
        .select(col("doc_id"), col("shuffle_key"),
          ((col("rnk") - 1) % nShards).as("shard"),
          expr(s"((rnk - 1) div $nShards) + 1").as("pos"))
    }),

    // DSIR data selection (Xie et al. 2023, "Data Selection for Language
    // Models via Importance Resampling"): fit hashed-bigram unigram
    // models on a target corpus (here the lang='en' slice) and on the
    // raw pool, weight every raw doc by its log importance ratio under
    // Laplace smoothing, and take the Gumbel-top-k sample (deterministic
    // md5 uniforms, the repo's reingest-stable sampler convention). At
    // 100 TB: ONE token-stream shuffle builds both 1024-bucket models
    // (map-combined counts), the models broadcast as single-row dense
    // arrays (O(1) indexed lookups — see dsirModelsOf),
    // per-doc scoring is a map-side fold in position order (identical
    // IEEE sequence both engines), and the k-sample is
    // TakeOrderedAndProject — no global sort, no window, no pairwise
    // anything. Selection behavior (en-skew vs the corpus mix) is
    // asserted as a law in TextSpec-land (DedupSpec).
    "q_dsir" -> ((s, dir) => {
      val t = dsirBuckets(Tables(s, dir, "documents"))
        .persist() // model build (explode) + per-doc scoring share it
      dsirScore(t, dsirModelsOf(dsirCountsOf(t)))
        .withColumn("score", col("log_w") - log(-log(
          (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast(LongType) % 1000000 + 0.5) / 1000000.0)))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("lang"),
          size(col("bks")).cast(LongType).as("n_bigrams"),
          round(col("log_w"), 6).as("log_w"),
          round(col("score"), 6).as("score"))
    }),

    // Language-ID heuristic: per-language stopword hit counts, argmax via
    // an explicit CASE chain (deterministic tie-breaking, same both engines).
    "q_lang_id" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .withColumn("w", split(lower(col("text")), "\\s+"))
      d.select(
        col("doc_id"),
        countIn(col("w"), stopEn).as("s_en"),
        countIn(col("w"), stopEs).as("s_es"),
        countIn(col("w"), stopDe).as("s_de"),
        countIn(col("w"), stopFr).as("s_fr"))
        .withColumn("predicted",
          when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de")
            && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr"))
    }),

    // Ranking evaluation — NDCG@10 of the BM25 arm against an exact
    // integer relevance label (total query-term occurrences per doc).
    // Rankings re-rank the SAME q_bm25 output with a doc_id tie-break;
    // the ideal top-10 comes from TakeOrderedAndProject over the
    // relevance table (no global sort); both DCG folds run in rank
    // order — identical IEEE sequence both engines — and only the final
    // three statistics surface, rounded.
    "q_ndcg" -> ((s, dir) => {
      val rel = Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), "\\s+")).as("word"))
        .filter(col("word").isin("hash", "join", "query", "vector"))
        .groupBy("doc_id").agg(count(lit(1)).cast(LongType).as("rel"))
        .persist()
      val w10 = org.apache.spark.sql.expressions.Window
        .orderBy(col("bm25").desc, col("doc_id"))
      val ranked = queries("q_bm25")(s, dir)
        .withColumn("rnk", row_number().over(w10).cast(LongType))
        .filter(col("rnk") <= 10)
        .join(rel, Seq("doc_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
      def dcgOf(rank: String): Column =
        expr(s"""aggregate(l, 0.0D, (a, x) ->
             a + CAST(x.rel AS DOUBLE) / log(2.0D, CAST(x.$rank + 1 AS DOUBLE)))""")
      val dcg = ranked
        .agg(sort_array(collect_list(struct(col("rnk"), col("rel")))).as("l"))
        .select(dcgOf("rnk").as("dcg"))
      val wi = org.apache.spark.sql.expressions.Window
        .orderBy(col("rel").desc, col("doc_id"))
      val ideal = rel.orderBy(col("rel").desc, col("doc_id")).limit(10)
        .withColumn("irank", row_number().over(wi).cast(LongType))
      val idcg = ideal
        .agg(sort_array(collect_list(struct(col("irank"), col("rel")))).as("l"))
        .select(dcgOf("irank").as("idcg"))
      dcg.crossJoin(broadcast(idcg))
        .select(round(col("dcg"), 6).as("dcg"),
          round(col("idcg"), 6).as("idcg"),
          round(col("dcg") / col("idcg"), 6).as("ndcg"))
    }),

    // Classifier evaluation — confusion matrix of the lang-id heuristic
    // against the labeled `lang` column, with per-class precision/recall
    // (the model-eval report every heuristic gate needs before it gates a
    // corpus). Predictions come from the SAME q_lang_id pipeline (one
    // definition), the matrix map-combines to ≤ languages² cells, and
    // precision/recall are windows over that bounded table — integer
    // counts, one double division each, round(,6).
    "q_lang_confusion" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val preds = queries("q_lang_id")(s, dir).select("doc_id", "predicted")
      Tables(s, dir, "documents").select(col("doc_id"), col("lang").as("actual"))
        .join(preds, "doc_id")
        .groupBy("actual", "predicted").agg(count(lit(1)).as("n"))
        .withColumn("predtot", sum("n").over(w.partitionBy("predicted")))
        .withColumn("acttot", sum("n").over(w.partitionBy("actual")))
        .select(col("actual"), col("predicted"), col("n"),
          round(col("n").cast(DoubleType) / col("predtot"), 6).as("precision"),
          round(col("n").cast(DoubleType) / col("acttot"), 6).as("recall"))
    }),

    // Context-window packing: assign docs to fixed-token-budget packs
    // (8192) by running token sums. Packing is per shard (doc_id % 64) so
    // the window never needs a global order — shards pack independently on
    // separate executors, the property that makes this run at corpus
    // scale. Exact integer arithmetic -> oracled.
    "q_pack_contexts" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") % 64).cast(IntegerType).as("shard"),
          ceil(length(col("text")) / lit(4.0)).as("est_tokens"))
        .withColumn("cum_before", coalesce(sum(col("est_tokens")).over(w), lit(0L)))
        .withColumn("pack_id", expr("cum_before div 8192"))
    }),

    // TF/DF corpus statistics (the exact-integer core of TF-IDF; the log
    // weighting is left to the consumer so parity stays bit-exact). The
    // document frequency is a count over a word-partitioned window of the
    // ALREADY-AGGREGATED tf table — one corpus scan + tokenize, two
    // exchanges ((doc_id, word) partial+final agg, then word), no join and
    // no second pass over the documents. No broadcast: vocabulary is
    // unbounded at corpus scale.
    "q_tf_df" -> ((s, dir) => {
      val tf = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      tf.withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("word")))
        .select("doc_id", "word", "tf", "df")
    }),

    // Deterministic train/valid/test split on a content-independent hash
    // of the stable doc key: reproducible under re-ingestion, re-
    // partitioning, and corpus growth (a row's split never changes), the
    // property random() splits lack. Map-only — no shuffle at any scale.
    // Long-document chunking with stride: each doc split into overlapping
    // token windows (W=32, stride S=24 — 8-token overlap), the GPT-style
    // prep for documents longer than the model context. Map-only
    // (explode over a per-doc sequence, no shuffle at any scale); chunk
    // text re-joined to a scalar string for the driver comparator.
    "q_chunk_windows" -> ((s, dir) => {
      val W = 32
      val S = 24
      Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
        .withColumn("n_tok", size(col("toks")))
        .select(col("doc_id"), col("toks"), col("n_tok"),
          explode(sequence(lit(0),
            floor((col("n_tok") - 1) / S).cast(IntegerType))).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          (col("chunk_id") * S).cast(IntegerType).as("start"),
          least(lit(W), col("n_tok") - col("chunk_id") * S)
            .cast(IntegerType).as("chunk_len"),
          array_join(slice(col("toks"), col("chunk_id") * S + 1, lit(W)), " ")
            .as("chunk_text"))
    }),

    // Deterministic bottom-k per-group sample: the k docs per source with
    // the smallest md5(doc_id) — a uniform random-but-reingest-stable
    // sample (same property as q_train_test_split's bucketing, but with an
    // exact per-group size). Two-phase so no task ever sorts a whole
    // group: phase 1 takes bottom-k within (source, salt) across 16
    // parallel slices; phase 2 re-ranks the <=16k survivors per source.
    // Bottom-k of the union of per-slice bottom-ks = global bottom-k, so
    // the rewrite is exact — the plain single-window oracle proves it.
    "q_bottomk_sample" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("h"),
          pmod(col("doc_id"), lit(16)).as("salt"))
      val phase1 = d.withColumn("r1",
          row_number().over(W.partitionBy("source", "salt")
            .orderBy(col("h"), col("doc_id"))))
        .filter(col("r1") <= 10)
      phase1.withColumn("rnk",
          row_number().over(W.partitionBy("source")
            .orderBy(col("h"), col("doc_id"))).cast(IntegerType))
        .filter(col("rnk") <= 10)
        .select("doc_id", "source", "rnk")
    }),

    // Zipf curve of the corpus vocabulary: frequency rank + cumulative
    // token share. The vocabulary is unbounded at corpus scale (typos,
    // URLs, junk tokens grow with the data), so the frequency rank and
    // the cumulative token share go through the BANDED two-level prefix
    // sum (Banding): rows band by descending count, the ≤1024-row band
    // table's strictly-preceding (count, token-count) offsets fold on
    // the driver, and every window is partitionBy(bkt) — zero
    // unpartitioned windows (pinned inventory-wide in PlanShapeSpec).
    // All offsets are exact longs, so rank and cum_share are value-
    // identical to the single-reducer form the oracle computes.
    "q_zipf" -> ((s, dir) => {
      val words = Tables(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
      val counts = words.groupBy("word").agg(count(lit(1)).as("cnt"))
      // n_total / bounds = one agg over the vocab-sized counts — NOT a
      // second corpus-scale tokenize pass
      val tot = counts.agg(sum(col("cnt")).as("n_total"),
        min(col("cnt")).as("minc"), max(col("cnt")).as("maxc"))
      val banded = counts.crossJoin(broadcast(tot))
        .withColumn("bkt", Banding.bucketizeDesc(col("cnt").cast(DoubleType),
          col("minc").cast(DoubleType), col("maxc").cast(DoubleType)))
      val off = Banding.offsets(
        banded.groupBy("bkt").agg(count(lit(1)).as("bc"),
          sum(col("cnt")).as("bs")), Seq("off_n", "off_s"))
      val wIn = org.apache.spark.sql.expressions.Window
        .partitionBy("bkt").orderBy(col("cnt").desc, col("word"))
      banded.join(broadcast(off), "bkt").select(
        col("word"), col("cnt"),
        (row_number().over(wIn) + col("off_n")).cast(IntegerType).as("rnk"),
        ((sum(col("cnt")).over(wIn.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)) + col("off_s"))
          .cast(DoubleType) / col("n_total")).as("cum_share"))
    }),

    // Weight-PROPORTIONAL Bernoulli (Poisson) sampling + Horvitz-Thompson
    // reweighting — per-ROW inclusion probability p_i = n_chars/1000
    // (quality/length-weighted thinning, vs q_mixture_sample's per-GROUP
    // rates). The keep decision is integer-exact on the md5 bucket, so
    // the sample is reingest-stable and map-only (no shuffle before the
    // final tiny per-lang agg), and the HT estimate sum(1/p_i) over kept
    // rows — the unbiased corpus-total estimator every downsampled-stats
    // pipeline needs — stages each term through round(,6)+decimal so the
    // sum is partition-order-independent and engine-exact.
    // Deterministic stratified train/val/test split — the last step
    // before training: every doc hashes to a reingest-stable ppm bucket
    // (md5 → [0, 1e6)) and splits 80/10/10. The hash is DOC-keyed, so
    // the split is stratified per source in expectation AND stable
    // under corpus growth — a doc never migrates between splits when
    // new data arrives, the leakage guarantee a re-split-by-fraction
    // cannot give. Map-side assignment; the output is the
    // strata×3-bounded rollup with a doc_id checksum proving WHICH docs
    // landed where (the q_rfm custkey_sum convention).
    "q_corpus_split" -> ((s, dir) =>
      corpusSplitAssign(Tables(s, dir, "documents"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum("doc_id").cast(LongType).as("docid_sum"))),

    "q_weighted_sample" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("u",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast(LongType) % 1000)
        .filter(col("u") < col("n_chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("chars_kept"),
          // Horvitz-Thompson weight 1/p_i with the inclusion probability
          // CAPPED at 1: the keep rule u < n_chars over u ∈ [0,1000)
          // keeps every doc with n_chars >= 1000 certainly (p = 1), so
          // its weight is 1.0 — an uncapped 1000/n_chars would
          // systematically undercount every long doc and bias ht_docs low
          sum(round(lit(1000.0) / least(col("n_chars"), lit(1000L)), 6)
            .cast(DecimalType(18, 6)))
            .cast(DoubleType).as("ht_docs"))
    }),

    // Token-budget waterfilling across languages — the multilingual
    // "data recipe" allocator (the XLM-R / mT5 problem): given a global
    // training-token budget B (80% of the corpus here), cap every
    // language at a common water level `cap` such that
    // sum(min(tokens_l, cap)) = B — low-resource languages keep ALL
    // their tokens, high-resource ones are downsampled to the level.
    // Closed form off the sorted per-language totals: the largest rank
    // i* whose cumulative + tokens_i*(n-i) fits in B marks the last
    // kept-whole language; cap = (B - cum_{i*}) / (n - i*). Scale: the
    // corpus map-combines to |langs| rows in one agg; every window /
    // join after that is label-domain-sized (bounded-window allowlist
    // entry in PlanShapeSpec) with 1-row broadcast stats — at 100 TB
    // this is a scan plus arithmetic on a handful of rows.
    "q_token_budget" -> ((s, dir) => {
      val toks = Tables(s, dir, "documents")
        .groupBy("lang")
        .agg(sum(size(normTokens(col("text"))).cast(LongType)).as("tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("tokens"), col("lang"))
      val ranked = toks
        .withColumn("i", row_number().over(w).cast(LongType))
        .withColumn("cum", sum(col("tokens")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      val p = broadcast(toks.agg(sum(col("tokens")).as("total"),
          count(lit(1)).as("n"), max(col("tokens")).as("max_tok"))
        .select(expr("total * 4 div 5").as("b"), col("n"), col("max_tok")))
      val star = broadcast(ranked.crossJoin(p)
        .filter(col("cum") + col("tokens") * (col("n") - col("i")) <= col("b"))
        .agg(max(col("i")).as("istar"),
          max_by(col("cum"), col("i")).as("cumstar")))
      val cap = broadcast(p.crossJoin(star).select(
        when(col("istar").isNull, col("b").cast(DoubleType) / col("n"))
          .when(col("istar") === col("n"), col("max_tok").cast(DoubleType))
          .otherwise((col("b") - col("cumstar")).cast(DoubleType) /
            (col("n") - col("istar"))).as("cap")))
      ranked.crossJoin(cap).select(col("lang"), col("tokens"),
        round(least(col("tokens").cast(DoubleType), col("cap")), 6)
          .as("allocation"),
        round(least(col("tokens").cast(DoubleType), col("cap")) /
          col("tokens"), 6).as("sample_rate"),
        (col("tokens") <= col("cap")).cast(LongType).as("kept_whole"))
    }),

    // Source-weighted mixture sampling — the "data recipe" step: each
    // source is downsampled to its target share of the training mix
    // (web-ish sources kept at 80%, others thinned harder). Same
    // md5-bucket determinism as q_train_test_split, so the mix is
    // reingest-stable and map-only; rates are a tiny broadcast decision
    // table in production (literal CASE here so the oracle is plain SQL).
    "q_mixture_sample" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("bucket", mixtureBucket)
        .withColumn("rate", mixtureRate)
        .filter(col("bucket") < col("rate"))
        .select(col("doc_id"), col("source"), col("rate").cast(IntegerType).as("rate"))
    }),

    // Quality-gated upsampling (the complement of downsampling in a data
    // recipe: repeat high-value documents k times per epoch). k derives
    // from the same stopword-quality rule as q_corpus_filter; posexplode
    // materializes the copies with a copy index (so downstream packing
    // sees distinct rows). Map-only; expansion factor is bounded by
    // construction.
    "q_upsample" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .withColumn("n_tok", size(col("w")))
        .filter(col("n_tok") > 0)
        .withColumn("stop_ratio",
          countIn(col("w"), stopEn).cast(DoubleType) / col("n_tok"))
        .withColumn("k",
          when(col("stop_ratio") >= 0.10, lit(3))
            .when(col("stop_ratio") >= 0.05, lit(2))
            .otherwise(lit(1)))
      d.select(col("doc_id"), col("k"),
          posexplode(sequence(lit(1), col("k"))).as(Seq("i", "copy_idx")))
        .select(col("doc_id"), col("k").cast(IntegerType).as("k"),
          col("copy_idx").cast(IntegerType).as("copy_idx"))
    }),

    // Apply a learned vocabulary: rank words by corpus frequency (same
    // rank rule as q_zipf — and the same BANDED global rank, because the
    // vocabulary is unbounded at corpus scale) and re-encode every doc
    // as its ordered token-id sequence — the tokenize step of a training
    // pipeline. Two corpus shuffles total (vocab count + per-doc
    // reassembly); the vocab join carries NO broadcast hint — AQE picks
    // broadcast while the measured vocab fits and falls back to a
    // shuffle join when it doesn't (forcing broadcast of an unbounded
    // table is the wrong 100-TB call). Per-doc order restored from
    // posexplode positions inside collect_list, so the encoding is
    // exact without a global sort.
    "q_encode_ids" -> ((s, dir) => {
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), "\\s+")).as(Seq("pos", "word")))
        .filter(length(col("word")) > 0)
      val counts = tok.groupBy("word").agg(count(lit(1)).as("cnt"))
      val bounds = counts.agg(min(col("cnt")).as("minc"), max(col("cnt")).as("maxc"))
      val banded = counts.crossJoin(broadcast(bounds))
        .withColumn("bkt", Banding.bucketizeDesc(col("cnt").cast(DoubleType),
          col("minc").cast(DoubleType), col("maxc").cast(DoubleType)))
      val off = Banding.offsets(
        banded.groupBy("bkt").agg(count(lit(1)).as("bc")), Seq("off_n"))
      val wIn = org.apache.spark.sql.expressions.Window
        .partitionBy("bkt").orderBy(col("cnt").desc, col("word"))
      val vocab = banded.join(broadcast(off), "bkt")
        .select(col("word"),
          (row_number().over(wIn) + col("off_n")).cast(IntegerType).as("tid"))
      tok.join(vocab, Seq("word"), "left")
        .select(col("doc_id"), col("pos"), coalesce(col("tid"), lit(0)).as("tid"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast(IntegerType).as("n_tok"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("pos"), col("tid")))),
              x => x.getField("tid").cast(StringType)),
            "-").as("ids"))
    }),

    "q_train_test_split" -> ((s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast(LongType) % 100).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "valid")
            .otherwise("test"))),

    // Per-domain document cap — the mixture-control pass every
    // pretraining build runs so one crawl domain can't dominate the mix:
    // keep at most K docs per source, retention order = stable content
    // hash (reingest-deterministic, no RNG), report kept/total plus a
    // doc_id checksum of the kept set so the oracle proves WHICH docs
    // survived, not just how many. The per-source window is the standard
    // per-group top-K shape; a skew-heavy corpus (one domain = half the
    // data) would first prefilter with a per-source hash threshold from a
    // count sketch so the window partition never exceeds ~K*constant.
    "q_domain_cap" -> ((s, dir) => {
      val cap = 50
      val d = Tables(s, dir, "documents").select(
        col("doc_id"), col("source"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast(LongType).as("h"))
      d.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("source").orderBy(col("h"), col("doc_id"))))
        .groupBy("source").agg(
          count(lit(1)).as("n_total"),
          sum(when(col("rn") <= cap, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rn") <= cap, col("doc_id")).otherwise(0L))
            .as("kept_docid_sum"))
    }),

    // q_domain_cap's SKEW-SAFE twin — the design the q_domain_cap comment
    // promises for a corpus where one domain is half the data: instead of
    // a per-source window (one task fully sorts the hot source's slice),
    // a k-bounded heap Aggregator (Holistic.TopKPairAgg) keeps the cap
    // smallest (hash, doc_id) pairs and partial-aggregates MAP-SIDE, so
    // the shuffle carries <= cap pairs per (source, map partition) and no
    // task ever sorts a whole domain. Retention order is identical —
    // TopKPairAgg trims by (value DESC, id ASC), so feeding -h ranks by
    // (h ASC, doc_id ASC), exactly row_number's order; -h is exact in a
    // double (h < 2^32). Same oracle as q_domain_cap: outputs must be
    // row-identical.
    "q_domain_cap_heap" -> ((s, dir) => {
      val cap = 50
      val top = udaf(new Holistic.TopKPairAgg(cap),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong))
      Tables(s, dir, "documents").select(
          col("doc_id"), col("source"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast(LongType).as("h"))
        .groupBy("source").agg(
          count(lit(1)).as("n_total"),
          top(-col("h").cast(DoubleType), col("doc_id")).as("kept"))
        .select(col("source"), col("n_total"),
          size(col("kept")).cast(LongType).as("n_kept"),
          expr("aggregate(kept, 0L, (a, x) -> a + x._2)").as("kept_docid_sum"))
    }),

    // Composite curation pass: the standard pretraining filter chain
    // (length -> stopword presence -> quality threshold) with an explicit
    // first-tripped reject reason. Map-only over the corpus.
    // The Gopher quality-rule battery (Rae et al. 2021, appendix A1.1)
    // as ONE codegen'd map pass — each document computes word count,
    // mean word length, symbol-word ratio (# / ellipsis), alphabetic-
    // word ratio, and a distinct-stopword floor, then takes the FIRST
    // failing rule as its verdict (published thresholds: 50..100k
    // words, mean length 3..10, symbols <= 0.1, alpha >= 0.8, >= 2
    // stopwords). The stopword set is the corpus-appropriate function-
    // word list (stopEn, shared with q_corpus_filter) standing in for
    // the paper's English set — the fixture's synthetic vocabulary
    // contains none of "be/that/have/with", which would fail every doc
    // vacuously. Line-grain rules (bullet starts, ellipsis line ends)
    // degenerate on the single-line fixture and are covered by the
    // symbol ratio. Zero shuffles: quality filtering at 100 TB is a
    // scan-rate map, and the verdict short-circuit means cheap rules
    // (word count) gate expensive ones exactly as published.
    "q_gopher_rules" -> ((s, dir) =>
      gopherProfile(Tables(s, dir, "documents"))),

    // The repetition half of the Gopher battery (see the RepSignals
    // section): per-doc signal profile, the thresholded verdict, and
    // the per-source report. All three ride ONE zero-shuffle projection
    // (sorted-array RLE folds) — at 100 TB this is scan-rate work like
    // the word battery, where the naive gram-explode groupBy would
    // shuffle ~9× the corpus tokens. The fixture is single-line word
    // salad, so the line/para signals are exercised by TextSpec's
    // planted corpora while the n-gram signals carry real variation
    // here (bigrams repeat up to 3× per doc).
    "q_repetition_signals" -> ((s, dir) =>
      repetitionProfile(Tables(s, dir, "documents"))),

    "q_repetition_rules" -> ((s, dir) =>
      repetitionRules(Tables(s, dir, "documents"))),

    "q_repetition_report" -> ((s, dir) =>
      repetitionStats(Tables(s, dir, "documents"))
        .withColumn("verdict", repVerdict)
        .groupBy("source", "verdict")
        .agg(count(lit(1)).as("n_docs"))),

    // spread-gated (round-16): the fused three-battery chain is pure
    // CPU-bound per-row work on a one-task fixture scan; see
    // Sources.spreadScanForCpu (at-scale multi-file corpora untouched)
    "q_corpus_clean" -> ((s, dir) =>
      corpusCleanProfile(Sources.spreadScanForCpu(
        Tables(s, dir, "documents")))),

    "q_corpus_filter" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .withColumn("n_tok", size(col("w")))
        .filter(col("n_tok") > 0)
        .withColumn("stop_ratio",
          countIn(col("w"), stopEn).cast(DoubleType) / col("n_tok"))
        .withColumn("quality_score",
          col("stop_ratio") * lit(0.5)
            + least(col("n_tok"), lit(100)).cast(DoubleType) / lit(100.0) * lit(0.5))
      d.select(col("doc_id"), col("n_tok"), col("stop_ratio"), col("quality_score"))
        .withColumn("reason",
          when(col("n_tok") < 5, "too_short")
            .when(col("stop_ratio") === 0.0, "no_stopwords")
            .when(col("quality_score") < 0.3, "low_quality")
            .otherwise("kept"))
        .withColumn("keep", col("reason") === "kept")
    }),

    // Repetition filter (the Gopher-style quality signal): fraction of all
    // bigram slots taken by the single most-repeated bigram. Entirely
    // MAP-SIDE: each doc's bigram multiset is ranked inside its own array
    // (sort + max-run fold; distinct via array_distinct), so the corpus
    // never shuffles at all — the earlier explode + two-shuffle form
    // shipped every bigram slot across the cluster to compute a per-doc
    // statistic. Per-doc work is O(tokens log tokens) local CPU.
    "q_repetition" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("w", split(lower(col("text")), "\\s+"))
        .filter(size(col("w")) >= 2)
        .withColumn("bg", expr(
          "array_sort(transform(sequence(0, size(w) - 2), i -> concat_ws(' ', w[i], w[i+1])))"))
        .select(col("doc_id"), size(col("w")).as("n_tok"),
          expr("""aggregate(bg,
              named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
              (acc, x) -> IF(acc.prev IS NOT NULL AND x = acc.prev,
                named_struct('prev', x, 'run', acc.run + 1L,
                  'best', GREATEST(acc.best, acc.run + 1L)),
                named_struct('prev', x, 'run', 1L,
                  'best', GREATEST(acc.best, 1L))),
              acc -> acc.best)""").as("top_bigram_cnt"),
          size(array_distinct(col("bg"))).cast(LongType).as("n_distinct_bigrams"))
        .withColumn("rep_ratio",
          col("top_bigram_cnt").cast(DoubleType) / (col("n_tok") - 1))
        .withColumn("repetitive", col("rep_ratio") > 0.1)
    }),

    // Character-entropy quality score (the gibberish/boilerplate detector
    // that complements the token-level gates): per-doc Shannon entropy of
    // the character distribution, computed entirely MAP-SIDE with array
    // HOFs — per-char counts, the sorted-order -p·ln(p) fold, everything
    // stays inside the doc's own row; the corpus never shuffles. Fold is
    // in sorted char order so both engines add the same IEEE sequence;
    // round(,6) because ln is irrational.
    "q_char_entropy" -> ((s, dir) =>
      // native char_entropy_stats (round-14 verdict task 2): one
      // compiled count-map pass per row — the interpreted sorted-run
      // aggregate fold it replaces (charEntropyFoldSql, retained below
      // as the pinned value-identity reference) allocated a 3-field
      // struct per CHARACTER. Same -p·ln(p) term per distinct char in
      // ascending code-point order, so the IEEE sum sequence matches
      // both the SQL fold and the oracle's ORDER BY c list bit-for-bit.
      Tables(s, dir, "documents")
        // oracle parity: the oracle's generate_series(1, length(text))
        // yields no rows for empty/NULL text, so those docs must be
        // absent here too
        .filter(length(col("text")) > 0)
        .withColumn("st", call_function("char_entropy_stats", col("text")))
        .select(col("doc_id"),
          length(col("text")).cast(LongType).as("n_chars"),
          col("st.n_distinct").as("n_distinct_chars"),
          round(col("st.entropy"), 6).as("entropy"))),

    // Blocklist scrubbing: replace listed tokens with a redaction marker,
    // count replacements, fingerprint the scrubbed text. Pure token-level
    // set ops (no regex dialect dependence), map-only at any scale.
    "q_blocklist_scrub" -> ((s, dir) => {
      val block = Seq("customer", "key", "spark")
      val d = Tables(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
      d.select(
        col("doc_id"),
        size(filter(col("w"), t => t.isin(block: _*))).as("n_redacted"),
        md5(array_join(
          transform(col("w"),
            t => when(t.isin(block: _*), lit("[REDACTED]")).otherwise(t)),
          " ")).as("scrubbed_md5"))
    }),

    // Structured-PII redaction — the scrub every published curation
    // pipeline ships (C4 §2.3 blocklists, Gopher §A.1.1, the FineWeb
    // lineage's email/IP redaction pass) and the one surface
    // q_blocklist_scrub's token-level set ops cannot cover: emails,
    // phone numbers, IPs, and SSN-shaped ids span token boundaries and
    // need anchored regexes. Map-only at any scale — counts + sequential
    // regexp_replace are per-row codegen'd expressions, zero shuffles
    // before the output filter. The fixture corpus carries no organic
    // PII, so the query SYNTHESIZES deterministic planted PII in-query
    // (the q_dedup_bloom convention): %13 docs gain an email, %17 an
    // IPv4, %19 an SSN-shaped id, %23 a phone — compounds where moduli
    // coincide. Patterns are dialect-portable (no lookaround/backrefs,
    // shared by Java regex and DuckDB's RE2), so the oracle runs the
    // IDENTICAL battery; n_residual re-counts every class on the
    // scrubbed text and must be 0 — the no-PII-survives law rides IN the
    // oracled output. Per-doc rows for flagged docs only (output is
    // planted+organic-hit sized, not corpus-sized).
    "q_pii_redact" -> ((s, dir) =>
      piiScrubProfile(piiAugmentedDocs(Tables(s, dir, "documents")))
        .filter(piiFlagged)),

    // The per-source redaction REPORT over the same battery — what a
    // curation run publishes next to its corpus: document counts,
    // flagged-document counts, and per-class redaction totals by source.
    // One partial-aggregated shuffle on the low-cardinality source key.
    "q_pii_report" -> ((s, dir) => {
      // per-class sums generated from PiiPatterns — a class added to
      // the battery lands in the report without touching this query
      val aggs = Seq(
        count(lit(1)).as("n_docs"),
        sum(when(piiFlagged, 1L).otherwise(0L)).as("n_docs_flagged")) ++
        PiiPatterns.map { case (cls, _, _) =>
          sum(col(s"n_$cls")).as(s"n_$cls") } :+
        sum(col("n_residual")).as("n_residual")
      piiScrubProfile(piiAugmentedDocs(Tables(s, dir, "documents")))
        .groupBy("source")
        .agg(aggs.head, aggs.tail: _*)
    }),

    // Test-set decontamination — the n-gram overlap check a pretraining
    // pipeline runs before training: flag corpus documents sharing any
    // word n-gram with a held-out benchmark set (here the doc_id%53==0
    // slice stands in for an eval suite). Real pipelines use 8-13 grams;
    // the fixture's synthetic text only produces cross-doc collisions at
    // n=4, so that's the order here — the plan is n-independent. The
    // benchmark side is small by construction (eval suites are a few MB),
    // so its distinct gram set BROADCASTS and the corpus side is a map-
    // side probe + one partial-aggregated shuffle on doc_id — the corpus
    // never shuffles on gram. Exact string grams -> fully oracled.
    // Store-fed since the streaming door landed: the benchmark gram set
    // comes from the one-time bench_grams_v1 store (built from the SAME
    // contamGrams definition, so output and oracle are unchanged) and the
    // profile is the factored contaminationProfile the door shares.
    "q_decontaminate" -> ((s, dir) => contaminationProfile(
      Tables(s, dir, "documents").filter(col("doc_id") % 53 =!= 0),
      ensureBenchGramStore(s, dir))),

    // Vocabulary construction: top-K tokens by frequency with the
    // cumulative corpus-coverage curve (the tokenizer-budget question
    // "how many types cover 90% of tokens?"). The vocab candidate table
    // is K-bounded before ranking (orderBy+limit = TakeOrderedAndProject,
    // a partial top-K on every partition), so the single-partition
    // ranking window sees exactly K rows no matter the corpus size; the
    // corpus-total is a 1-row broadcast cross join.
    "q_vocab_coverage" -> ((s, dir) => {
      val counts = Tables(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("total_tokens"))
      val rankW = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("word"))
      counts.orderBy(col("cnt").desc, col("word")).limit(1000)
        .crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(rankW))
        .withColumn("cum_cnt", sum(col("cnt")).over(rankW.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .withColumn("cum_frac",
          col("cum_cnt").cast(DoubleType) / col("total_tokens"))
        .withColumn("in_vocab_90", col("cum_frac") <= 0.9)
        .select("word", "cnt", "rank", "cum_cnt", "cum_frac", "in_vocab_90")
    }),

    // Line-level (segment) dedup — the C4-style boilerplate scrub: chunk
    // every document into fixed 4-token segments, count how many DISTINCT
    // documents each segment appears in corpus-wide, drop segments seen in
    // >= 2 documents, and fingerprint the surviving in-order text.
    // Segments are keyed by 64-bit md5 chunk ids (native codegen
    // chunk_md5_ids64 — u32 would birthday-collide at ~10^6 segments) so
    // the corpus-wide frequency shuffle and the join key carry 8-byte
    // longs, not ~30-byte segment strings; the tokenize+chunk pass runs
    // ONCE (the frame is persisted and feeds both the freq agg and the
    // reassembly side). Segment STRINGS survive only on the reassembly
    // path — one join-side shuffle plus the partial-aggregated doc_id
    // shuffle, the floor for in-order text reassembly. No broadcast for
    // freq: segment vocabulary is unbounded at corpus scale. 4-token
    // segments because the synthetic fixture only collides across docs at
    // n=4 (same reasoning as q_decontaminate); the plan is
    // segment-length-independent.
    "q_line_dedup" -> ((s, dir) => {
      val segs = Tables(s, dir, "documents")
        .withColumn("w", split(lower(col("text")), "\\s+"))
        .filter(size(col("w")) >= 4)
        .select(col("doc_id"), posexplode(expr(
          """zip_with(chunk_md5_ids64(w, 4),
                      transform(sequence(1, size(w) div 4),
                                i -> array_join(slice(w, (i-1)*4 + 1, 4), ' ')),
                      (id, s) -> struct(id AS seg_id, s AS seg))"""))
          .as(Seq("seg_idx", "x")))
        .select(col("doc_id"), col("seg_idx"),
          col("x.seg_id").as("seg_id"), col("x.seg").as("seg"))
        .persist()
      val freq = segs.select("seg_id", "doc_id")
        .groupBy("seg_id").agg(countDistinct(col("doc_id")).as("n_docs"))
      segs.join(freq, "seg_id")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segments"),
          sum((col("n_docs") >= 2).cast(LongType)).as("n_boilerplate"),
          // in-order unique segments: array_sort on (seg_idx, seg) structs
          // restores document order after the unordered aggregation
          md5(array_join(transform(array_sort(collect_list(
            when(col("n_docs") === 1, struct(col("seg_idx"), col("seg"))))),
            x => x.getField("seg")), " ")).as("kept_md5"))
    }),

    // Bigram language-model counts — the KenLM-prep shape: corpus bigram
    // counts, left-context totals, conditional probabilities, and a
    // next-word rank per context. The context-total window runs over the
    // ALREADY-AGGREGATED bigram table (vocabulary-bounded, like q_tf_df's
    // df window), never the corpus — and since round 9 the counts read
    // from the one-time LM store, so the query plans no corpus scan or
    // corpus shuffle at all.
    "q_bigram_lm" -> ((s, dir) => {
      // counts come straight from the persisted LM store (fit once per
      // corpus — see ensureBigramLmStore): ZERO corpus scans at query
      // time; the windows below run over the vocabulary-bounded store
      val counts = bigramLm(s, dir)._2
        .select(col("word").as("w1"), col("next").as("w2"),
          col("cb").as("c12"))
      counts
        .withColumn("c1", sum(col("c12")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("w1")))
        .withColumn("cond_p", col("c12").cast(DoubleType) / col("c1"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("w1")
            .orderBy(col("c12").desc, col("w2"))))
    }),

    // PII-pattern scrub — regex-level redaction (the structured sibling of
    // the token-level q_blocklist_scrub): count digit hits and digit runs
    // (account-number / phone shapes), mask every digit, and emit a stable
    // pseudonymization token (sha-256) for joinability after redaction.
    // Map-only at any scale.
    "q_pii_scrub" -> ((s, dir) =>
      Tables(s, dir, "customer").select(
        col("c_custkey"),
        regexp_count(col("c_name"), lit("[0-9]")).as("n_digits"),
        regexp_count(col("c_name"), lit("[0-9]{3,}")).as("n_digit_runs"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("masked_name"),
        sha2(col("c_name"), 256).as("name_token"))),

    // Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    // SIGMOD'03 — the MOSS algorithm): hash every k-token gram, slide a
    // window of `win` gram hashes, keep each window's minimum. Guarantees
    // any shared run of k+win-1 tokens between two documents yields a
    // shared fingerprint, while storing ~2/(win+1) of the gram hashes —
    // the storage/recall contract position-sensitive dedup needs. Pure
    // array HOFs over each row: map-only, no shuffle at any scale; the
    // selected-set digest makes cross-doc comparison a plain equi-join
    // downstream. Exact integer/md5 arithmetic -> fully oracled.
    "q_winnow" -> ((s, dir) => {
      val k = 4 // gram width in tokens
      val win = 4 // winnowing window in grams
      Tables(s, dir, "documents")
        .withColumn("w", normTokens(col("text")))
        .withColumn("n", size(col("w")))
        .filter(col("n") >= k + win - 1)
        // native codegen twin of transform(sequence(0, n - k), i ->
        // cast(conv(substring(md5(concat_ws(' ', slice(w, i+1, k))),
        // 1, 8), 16, 10) as bigint)) — identical gram ids, none of the
        // per-gram interpreter overhead; k passed explicitly so the
        // local width stays the single source of truth
        .withColumn("gh", call_function("span_md5_ids", col("w"), lit(k)))
        .withColumn("sel", expr(
          s"array_distinct(transform(sequence(0, size(gh) - $win), " +
            s"j -> array_min(slice(gh, j + 1, $win))))"))
        .select(col("doc_id"),
          size(col("gh")).as("n_grams"),
          size(col("sel")).as("n_fp"),
          md5(expr("array_join(transform(array_sort(sel), x -> cast(x as string)), '-')"))
            .as("fp_md5"))
    }),

    // Cross-document duplicated-SPAN detection — the exact-substring
    // dedup of Lee et al. 2021 ("Deduplicating Training Data Makes
    // Language Models Better"), re-expressed for MapReduce instead of a
    // single-node suffix array: every 8-token span hashes map-side (one
    // tokenize, array HOFs), spans group on the hash with a map-combined
    // distinct-doc count, and spans seen in >1 document flow back to
    // their documents as a per-doc duplication profile (n_dup_spans /
    // dup_ratio — the "what fraction of this doc is copied" signal a
    // span-masking pass consumes). One corpus shuffle on the span hash +
    // the doc-grain re-agg; no pairwise comparisons anywhere, so the
    // cost is O(total spans), independent of how many documents share a
    // span. Exact md5 span keys -> fully oracled (DuckDB rebuilds the
    // same spans from the same normalization).
    "q_span_dedup" -> ((s, dir) => {
      val g = spanHashes(Tables(s, dir, "documents"))
        .persist() // span-hash agg + the join-back both read it
      val dup = g.groupBy("gh")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1)
        .select(col("gh").as("dgh"))
      g.join(dup, col("gh") === col("dgh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"), count(col("dgh")).as("n_dup_spans"))
        .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
          round(col("n_dup_spans").cast(DoubleType) / col("n_spans"), 6)
            .as("dup_ratio"))
    }),

    // MAXIMAL duplicated intervals — the masking output of Lee et al.
    // 2021's exact-substring dedup: q_span_dedup counts fixed 8-token
    // duplicated spans; this coalesces each document's overlapping /
    // adjacent duplicated spans into maximal (start_tok, end_tok) token
    // intervals — the ranges a span-masking pass actually cuts. Same
    // single span-hash shuffle to find duplicated spans (no pairwise
    // work); the gaps-and-islands merge (the q_scd2 pattern) runs
    // entirely under Window.partitionBy(doc_id), so interval assembly is
    // per-document and bounded by document length at any corpus size.
    // Spans at positions p, q (q > p) merge iff q <= p + 8 — interval
    // [q, q+7] overlaps or directly abuts [p, p+7].
    "q_span_intervals" -> ((s, dir) => spanIntervals(s, dir)),

    // The final output of the Lee et al. 2021 pipeline: APPLY the
    // maximal duplicated intervals — drop every token inside one,
    // emit the rewritten corpus. The interval list per doc is small
    // (bounded by doc length / span width), so the mask is a per-doc
    // map pass: tokens x intervals inside one row, no extra shuffle
    // beyond the interval computation itself. Docs without intervals
    // (including sub-8-token docs) pass through normalized-verbatim.
    "q_span_mask" -> ((s, dir) => {
      val ivs = spanIntervals(s, dir)
        .groupBy("doc_id")
        .agg(collect_list(struct(col("start_tok").as("s"),
          col("end_tok").as("e"))).as("ivs"))
      Tables(s, dir, "documents")
        .withColumn("w", normTokens(col("text")))
        .select("doc_id", "w")
        .join(ivs, Seq("doc_id"), "left")
        // native span_mask_stats (round-14 verdict task 2): merged
        // intervals + a two-pointer walk per row — the interpreted
        // keep-filter lambda it replaces (spanMaskKeepSql, retained
        // below as the pinned value-identity reference) dispatched
        // exists-over-intervals per TOKEN. The left-join miss (clean
        // docs) coalesces to an empty interval array — the SQL form's
        // `ivs IS NULL` keep-everything short-circuit.
        .withColumn("st", call_function("span_mask_stats", col("w"),
          coalesce(col("ivs"),
            expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)"))))
        .select(col("doc_id"),
          col("st.n_tokens").as("n_tokens"),
          col("st.n_masked").as("n_masked"),
          col("st.masked_text").as("masked_text"))
    }),

    // Incremental span dedup — the daily-delta shape: only the delta
    // half (doc_id % 2 == 1) tokenizes; its spans probe the persisted
    // base span store with one equi-join. At 100 TB the base corpus is
    // never re-read — the store is the only base artifact touched, so
    // per-day cost is O(delta spans + hits). Oracle rebuilds the base
    // span set from the same construction (store values deterministic).
    "q_span_dedup_cross" -> ((s, dir) =>
      spanProfileAgainst(
        Tables(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        ensureSpanStore(s, dir))),

    // Document fingerprinting: md5 of whitespace-normalized text + a
    // rolling polynomial hash over tokens (exact integer arithmetic —
    // bit-identical across engines). The fold is a native codegen'd
    // expression (graft.functions.PolyTokenHash) — the equivalent
    // aggregate(transform(...)) HOF is interpreted per token.
    "q_fingerprint" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("norm", normText(col("text")))
        .filter(length(col("norm")) > 0)
        .select(
          col("doc_id"),
          md5(col("norm")).as("md5_fp"),
          call_function("poly_hash", split(col("norm"), " ")).as("poly_fp")))
  )

  /** DuckDB mirror of [[piiAugmentedDocs]] — the same CASE chain in the
    * same order, a pure function of doc_id. */
  private val piiAugSql: String =
    """SELECT doc_id, source, lang,
         text
         || CASE WHEN doc_id % 13 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com please' ELSE '' END
         || CASE WHEN doc_id % 17 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 + 1 AS VARCHAR) ELSE '' END
         || CASE WHEN doc_id % 19 = 0 THEN ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN doc_id % 23 = 0 THEN ' call +1 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN doc_id % 29 = 0 THEN ' addr 2001:db8:85a3:' || CAST(doc_id % 9999 AS VARCHAR) || '::' || CAST((doc_id * 7) % 9999 AS VARCHAR) ELSE '' END
         || CASE WHEN doc_id % 31 = 0 THEN ' card 4111-1111-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN doc_id % 37 = 0 THEN ' token sk_live_' || lpad(CAST(doc_id % 1000000000 AS VARCHAR), 12, '0') ELSE '' END
         AS text
       FROM documents"""

  /** The sequential scrub fold as DuckDB SQL over a column expression —
    * generated from [[PiiPatterns]], shared by [[piiProfileSql]] and
    * the v2-capstone oracle's scrub CTE. */
  private def piiCleanFoldSql(src: String): String =
    PiiPatterns.foldLeft(src) { case (c, (_, p, r)) =>
      s"regexp_replace($c, '$p', '$r', 'g')"
    }

  /** DuckDB mirror of [[piiScrubProfile]], GENERATED from the same
    * [[PiiPatterns]] constants the engine executes (single-definition
    * discipline — a pattern edit cannot drift the oracle). Yields CTEs
    * `aug` and `pii`; consumers select from `pii`. */
  private def piiProfileSql: String = {
    val counts = PiiPatterns.map { case (cls, p, _) =>
      s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_$cls"
    }.mkString(",\n           ")
    val clean = piiCleanFoldSql("text")
    val resid = PiiPatterns.map { case (_, p, _) =>
      s"len(regexp_extract_all(clean_text, '$p'))"
    }.mkString(" + ")
    s"""aug AS ($piiAugSql),
       prof AS (
         SELECT doc_id, source,
           $counts,
           $clean AS clean_text
         FROM aug),
       pii AS (
         SELECT doc_id, source,
           ${PiiPatterns.map { case (cls, _, _) => s"n_$cls" }
             .mkString(", ")},
           CAST($resid AS BIGINT) AS n_residual,
           md5(clean_text) AS clean_md5,
           CAST(length(clean_text) AS BIGINT) AS clean_len
         FROM prof)"""
  }

  val oracles: Map[String, String] = Map(
    "q_pii_redact" ->
      s"""WITH $piiProfileSql
         SELECT * FROM pii
         WHERE $piiFlaggedSql""",

    "q_pii_report" ->
      s"""WITH $piiProfileSql
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN $piiFlaggedSql
             THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_flagged,
           ${PiiPatterns.map { case (cls, _, _) =>
             s"CAST(sum(n_$cls) AS BIGINT) AS n_$cls" }
             .mkString(",\n           ")},
           CAST(sum(n_residual) AS BIGINT) AS n_residual
         FROM pii GROUP BY source""",

    "q_wordcount" ->
      """SELECT word, count(*) AS cnt FROM (
           SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents
         ) WHERE length(word) > 0 GROUP BY word""",

    "q_mr_wordcount" ->
      """SELECT word, count(*) AS cnt FROM (
           SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents
         ) WHERE length(word) > 0 GROUP BY word""",

    "q_mr_chained" ->
      """WITH wc AS (
           SELECT word, count(*) AS cnt FROM (
             SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents
           ) WHERE length(word) > 0 GROUP BY word)
         SELECT cnt, count(*) AS n_words FROM wc GROUP BY cnt""",

    "q_mr_inverted" ->
      """WITH tok AS (
           SELECT DISTINCT word, doc_id FROM (
             SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word
             FROM documents)
           WHERE length(word) > 0)
         SELECT word,
           string_agg(CAST(doc_id AS VARCHAR), '-' ORDER BY doc_id) AS postings
         FROM tok GROUP BY word""",

    "q_token_count" ->
      """SELECT doc_id,
         CAST(length(text) AS INTEGER) AS n_chars_m,
         CAST(len(string_split_regex(text, '\s+')) AS INTEGER) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS bpeish_tokens,
         CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens
         FROM documents""",

    "q_text_stats" ->
      s"""WITH d AS (
           SELECT doc_id, text, string_split(text, ' ') AS w,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok
           FROM documents)
         SELECT doc_id, n_tok,
           CAST(list_reduce(list_prepend(0, list_transform(w, t -> CAST(length(t) AS INTEGER))),
             (a, x) -> a + x) AS DOUBLE) / n_tok AS avg_tok_len,
           CAST(${sqlCountIn(sqlList(stopEn))} AS DOUBLE) / n_tok AS stop_ratio,
           CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS INTEGER) AS n_punct,
           CAST(${sqlCountIn(sqlList(stopEn))} AS DOUBLE) / n_tok * 0.5
             + CAST(least(n_tok, 100) AS DOUBLE) / 100.0 * 0.5 AS quality_score
         FROM d WHERE n_tok > 0""",

    "q_bpe_train" -> bpeTrainOracleSql(5),

    "q_bpe_vocab" -> bpeVocabOracleSql(5),

    // the word key is RECONSTRUCTED as the concatenation of its
    // post-merge symbols (merging only joins adjacent symbols, so the
    // concatenation is the original word) — same on both engines
    "q_bpe_encode" -> (bpeOracleCtes(5) +
      """,
       enc AS (SELECT array_to_string(syms, '') AS word,
                 CAST(len(syms) AS BIGINT) AS n_bpe
               FROM v5),
       tok AS (SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\s+'),
                   t -> length(t) > 0)) AS word
               FROM documents),
       d AS (SELECT t.doc_id, count(*) AS n_ws_tokens,
               sum(coalesce(e.n_bpe, 1)) AS n_bpe_tokens
             FROM tok t LEFT JOIN enc e USING (word)
             GROUP BY t.doc_id)
       SELECT doc_id, CAST(n_ws_tokens AS BIGINT) AS n_ws_tokens,
         CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
         CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens AS tokens_per_word
       FROM d"""),

    "q_bpe_step" ->
      """WITH wc AS (
           SELECT word, count(*) AS f FROM (
             SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
             FROM documents)
           WHERE length(word) >= 2 GROUP BY word),
         pairs AS (
           SELECT unnest(list_transform(range(1, length(word)),
             i -> word[i:i+1])) AS pair, f
           FROM wc)
         SELECT pair, CAST(sum(f) AS BIGINT) AS cnt
         FROM pairs GROUP BY pair
         ORDER BY cnt DESC, pair LIMIT 10""",

    // simpson is the exact rational Σc²/N² via one double division (a
    // folded Σp² can land exactly on a round-half boundary where engine
    // round() semantics diverge); entropy keeps the ORDER BY word fold =
    // Spark's sort_array fold order, identical IEEE op sequence.
    "q_token_diversity" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word
           FROM documents),
         c AS (
           SELECT doc_id, word, count(*) AS c FROM tok
           WHERE length(word) > 0 GROUP BY doc_id, word),
         d AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS INTEGER) AS n_types,
             CAST(sum(c * c) AS BIGINT) AS sum_sq,
             list(CAST(c AS DOUBLE) ORDER BY word) AS cl
           FROM c GROUP BY doc_id)
         SELECT doc_id, n_tokens, n_types,
           CAST(n_types AS DOUBLE) / n_tokens AS ttr,
           CAST(sum_sq AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE) AS simpson,
           round(list_reduce(list_prepend(0.0,
             list_transform(cl, x -> -(x / n_tokens) * ln(x / n_tokens))),
             (a, b) -> a + b), 6) AS entropy
         FROM d""",

    // Same arithmetic shapes as the Spark side (b*dl/avgdl parses as
    // (b*dl)/avgdl on both; +0.5/+1.0 literals identical doubles).
    "q_bm25" -> bm25OracleSql,

    // 1-based generate_subscripts vs Spark's 0-based posexplode is fine:
    // pos is only an ordering key, never an output.
    "q_perplexity" -> perplexityOracleSql,

    // head/middle/tail over the SAME ppl definition (shared oracle val)
    "q_ccnet_buckets" ->
      s"""WITH p AS ($perplexityOracleSql),
         c AS (
           SELECT quantile_cont(ppl, 0.333333) AS c1,
             quantile_cont(ppl, 0.666667) AS c2
           FROM p)
         SELECT CASE WHEN ppl <= c1 THEN 'head'
                     WHEN ppl <= c2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
           round(CAST(sum(CAST(ppl AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS mean_ppl
         FROM p, c GROUP BY 1""",

    "q_cooccur" ->
      """WITH tok AS (
           SELECT DISTINCT doc_id, word FROM (
             SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word
             FROM documents)
           WHERE length(word) > 0),
         vocab AS (
           SELECT word, count(*) AS df FROM tok GROUP BY word
           ORDER BY df DESC, word LIMIT 50),
         vtok AS (SELECT t.doc_id, t.word, v.df
                  FROM tok t JOIN vocab v USING (word)),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         pairs AS (
           SELECT a.word AS w1, b.word AS w2, count(*) AS pair_docs,
             max(a.df) AS df1, max(b.df) AS df2
           FROM vtok a JOIN vtok b
             ON a.doc_id = b.doc_id AND a.word < b.word
           GROUP BY a.word, b.word
           HAVING count(*) >= 5)
         SELECT w1, w2, pair_docs, df1, df2,
           round(ln((CAST(pair_docs AS DOUBLE) / n_docs) /
                    ((CAST(df1 AS DOUBLE) / n_docs) *
                     (CAST(df2 AS DOUBLE) / n_docs)))
             / -ln(CAST(pair_docs AS DOUBLE) / n_docs), 6) AS npmi
         FROM pairs, nd""",

    // The fingerprint only has to PARTITION identically (group duplicate
    // texts together) — md5 value parity across engines is irrelevant to
    // the rn=1 winner, which is min doc_id per distinct text either way.
    "q_pipeline_e2e" ->
      """WITH d2 AS (
           SELECT doc_id, text, lang, source,
             list_filter(string_split(text, ' '), t -> length(t) > 0) AS tok,
             CAST(len(list_filter(string_split(text, ' '),
               t -> length(t) > 0)) AS INTEGER) AS n_tok
           FROM documents),
         inagg AS (SELECT source, count(*) AS docs_in FROM d2 GROUP BY source),
         q AS (
           SELECT * FROM d2
           WHERE lang = 'en' AND n_tok >= 5
             AND CAST(len(list_filter(tok,
               t -> t IN ('the','and','of','to','is','a','in','on'))) AS DOUBLE)
               / n_tok >= 0.04),
         k AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY md5(text)
               ORDER BY doc_id) AS rn FROM q)
           WHERE rn = 1),
         kagg AS (
           SELECT source, count(*) AS docs_kept,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens,
             CAST(sum((n_tok + 31) // 32) AS BIGINT) AS n_chunks
           FROM k GROUP BY source)
         SELECT i.source, i.docs_in,
           coalesce(k.docs_kept, 0) AS docs_kept,
           coalesce(k.total_tokens, 0) AS total_tokens,
           coalesce(k.n_chunks, 0) AS n_chunks,
           CAST(coalesce(k.docs_kept, 0) AS DOUBLE) / i.docs_in AS keep_rate
         FROM inagg i LEFT JOIN kagg k USING (source)""",

    // battery + dedup survivors feed the SAME bpeRoundCtes chain as
    // q_bpe_train, just over the survivor word table; the per-source
    // rollup is integer sums + one exact-rational division
    "q_pipeline_tokenizer" ->
      s"""WITH $gopherBatteryCte,
         j AS (
           SELECT *, ($gopherVerdictSql) = 'kept' AS pass_q FROM f),
         k0 AS (
           SELECT *, md5(array_to_string(w, ' ')) AS fp FROM j WHERE pass_q),
         k AS (
           SELECT * FROM (SELECT *, row_number()
             OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM k0)
           WHERE rn = 1),
         tok AS (SELECT doc_id, source, unnest(w) AS word FROM k),
         wfreq AS (SELECT word, count(*) AS f FROM tok
                   WHERE length(word) >= 2 GROUP BY word),
         ${bpeRoundCtes(5)},
         enc AS (SELECT array_to_string(syms, '') AS word,
                   CAST(len(syms) AS BIGINT) AS n_bpe
                 FROM v5),
         e AS (SELECT t.doc_id, t.source, coalesce(enc.n_bpe, 1) AS n_bpe
               FROM tok t LEFT JOIN enc USING (word))
         SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_kept,
           CAST(count(*) AS BIGINT) AS ws_tokens,
           CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(n_bpe) AS DOUBLE) / count(*) AS tokens_per_word
         FROM e GROUP BY source""",

    // the gopher battery + first-id-per-fp dedup + the span-interval
    // CTE chain over survivors, funneled per source; integer sums and
    // exact-rational rates, so the rounded doubles are bit-equal
    "q_pipeline_llm" ->
      s"""WITH $gopherBatteryCte,
         j AS (
           SELECT *, ($gopherVerdictSql) = 'kept' AS pass_q FROM f),
         k0 AS (
           SELECT *, md5(array_to_string(w, ' ')) AS fp FROM j WHERE pass_q),
         k AS (
           SELECT * FROM (SELECT *, row_number()
             OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM k0)
           WHERE rn = 1),
         g AS (
           SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             md5(array_to_string(w[u.i:u.i+7], ' ')) AS gh
           FROM k, UNNEST(range(1, len(w) - 6)) AS u(i)
           WHERE len(w) >= 8),
         dup AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) > 1),
         p AS (SELECT g.doc_id, g.pos FROM g JOIN dup ON g.gh = dup.gh),
         m AS (
           SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
               THEN 0 ELSE 1 END AS brk
           FROM p),
         i AS (
           SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM m),
         iv AS (
           SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
           FROM i GROUP BY doc_id, island),
         mk AS (
           SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS masked
           FROM iv GROUP BY doc_id),
         ina AS (
           SELECT source, CAST(count(*) AS BIGINT) AS docs_in,
             CAST(sum(CASE WHEN pass_q THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_quality
           FROM j GROUP BY source),
         ka AS (
           SELECT source, CAST(count(*) AS BIGINT) AS docs_kept,
             CAST(sum(n_words) AS BIGINT) AS tokens_kept
           FROM k GROUP BY source),
         ma AS (
           SELECT k.source, CAST(sum(mk.masked) AS BIGINT) AS tokens_masked
           FROM mk JOIN k ON mk.doc_id = k.doc_id GROUP BY k.source)
         SELECT ina.source AS source, docs_in, docs_quality,
           coalesce(docs_kept, 0) AS docs_kept,
           coalesce(tokens_kept, 0) AS tokens_kept,
           coalesce(tokens_masked, 0) AS tokens_masked,
           coalesce(tokens_kept, 0) - coalesce(tokens_masked, 0) AS tokens_out,
           round(CAST(coalesce(docs_kept, 0) AS DOUBLE) / docs_in, 6)
             AS keep_rate,
           CASE WHEN coalesce(tokens_kept, 0) > 0
             THEN round(CAST(coalesce(tokens_masked, 0) AS DOUBLE)
               / tokens_kept, 6)
             ELSE 0.0 END AS mask_rate
         FROM ina LEFT JOIN ka ON ina.source = ka.source
         LEFT JOIN ma ON ina.source = ma.source""",

    // ppm-quantized rates make the keep comparison integer-exact; only
    // pow is a cross-engine double, absorbed by the ppm rounding
    "q_mixture_temperature" ->
      """WITH d AS (
           SELECT doc_id, source,
             CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
           FROM documents),
         st AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
           FROM d GROUP BY source),
         w AS (
           SELECT *, power(CAST(n_tokens AS DOUBLE), -0.7) AS wt FROM st),
         r AS (
           SELECT source, n_docs, n_tokens,
             CAST(round(wt / (SELECT max(wt) FROM w) * 1000000) AS BIGINT)
               AS rate_ppm
           FROM w),
         k AS (
           SELECT d.source, CAST(count(*) AS BIGINT) AS kept_docs,
             CAST(sum(d.n_tok) AS BIGINT) AS kept_tokens
           FROM d JOIN r ON d.source = r.source
           WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 1000000 < r.rate_ppm
           GROUP BY d.source)
         SELECT r.source AS source, n_docs, n_tokens, rate_ppm,
           coalesce(kept_docs, 0) AS kept_docs,
           coalesce(kept_tokens, 0) AS kept_tokens
         FROM r LEFT JOIN k ON r.source = k.source""",

    // the oracle computes the global rank directly (single node); the
    // banded two-level rank equals it exactly because bucketize is
    // monotone in the key
    // same md5 stream order; the banded prefix sum equals the plain
    // running-sum window exactly (band boundaries only shape the plan)
    "q_pack_sequences" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
               t -> length(t) > 0)) AS BIGINT) AS n_tokens,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               AS k
           FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM d)
         SELECT doc_id, n_tokens,
           CAST(cum_before // 2048 AS BIGINT) AS shard,
           CAST(cum_before % 2048 AS BIGINT) AS off_in_shard
         FROM c""",

    // the same prefix-sum CTE, then each doc unnests into the shards it
    // overlaps (range is end-exclusive, hence the +1) with the exact
    // integer slice bounds
    "q_pack_emit" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
               t -> length(t) > 0)) AS BIGINT) AS n_tokens,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               AS k
           FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM d WHERE n_tokens > 0),
         seg AS (
           SELECT doc_id, n_tokens, cum_before,
             unnest(range(CAST(cum_before // 2048 AS BIGINT),
               CAST((cum_before + n_tokens - 1) // 2048 + 1 AS BIGINT))) AS shard
           FROM c)
         SELECT CAST(shard AS BIGINT) AS shard, doc_id,
           CAST(greatest(shard * 2048 - cum_before, 0) AS BIGINT) AS start_tok,
           CAST(least((shard + 1) * 2048, cum_before + n_tokens)
             - cum_before - 1 AS BIGINT) AS end_tok,
           CAST(greatest(shard * 2048, cum_before) - shard * 2048 AS BIGINT)
             AS off_in_shard
         FROM seg""",

    // q_span_intervals' CTE chain reduced to per-doc masked-token sums
    // (intervals are disjoint, so the sum equals the mask's kept count),
    // then the q_pack_sequences prefix sum weighted by n_kept
    "q_pack_masked" ->
      """WITH t AS (
           SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         g AS (
           SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             md5(array_to_string(w[u.i:u.i+7], ' ')) AS gh
           FROM t, UNNEST(range(1, len(w) - 6)) AS u(i)
           WHERE len(w) >= 8),
         d AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) > 1),
         p AS (SELECT g.doc_id, g.pos FROM g JOIN d ON g.gh = d.gh),
         m AS (
           SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
               THEN 0 ELSE 1 END AS brk
           FROM p),
         i AS (
           SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM m),
         iv AS (
           SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
           FROM i GROUP BY doc_id, island),
         mk AS (SELECT doc_id, sum(e - s + 1) AS n_masked
           FROM iv GROUP BY doc_id),
         per AS (
           SELECT t.doc_id AS doc_id,
             CAST(len(list_filter(t.w, x -> len(x) > 0)) AS BIGINT) AS n_tokens,
             CAST(coalesce(mk.n_masked, 0) AS BIGINT) AS n_masked,
             CAST(len(list_filter(t.w, x -> len(x) > 0))
               - coalesce(mk.n_masked, 0) AS BIGINT) AS n_kept,
             CAST(('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               AS k
           FROM t LEFT JOIN mk ON mk.doc_id = t.doc_id),
         c AS (
           SELECT doc_id, n_tokens, n_masked, n_kept,
             coalesce(sum(n_kept) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM per)
         SELECT doc_id, n_tokens, n_masked, n_kept,
           CAST(cum_before // 2048 AS BIGINT) AS shard,
           CAST(cum_before % 2048 AS BIGINT) AS off_in_shard
         FROM c""",

    // the full pretraining composition: battery + dedup survivors feed
    // the SAME bpeRoundCtes chain as q_pipeline_tokenizer, the v5 vocab
    // encodes every survivor word into its symbol sequence (sub-floor
    // words pass through as single self-tokens), symbols get
    // frequency-ranked ids (the q_encode_ids convention), and the
    // per-doc id lists ride the q_pack_emit prefix-sum + segment-split
    // CTEs with the actual id slice emitted per segment
    "q_pipeline_pretrain" ->
      s"""WITH $pretrainSegmentCtes
         SELECT * FROM emitted""",

    // v2: the base chain supplies enc + symtab (the persisted
    // tokenizer artifacts); the v2 survivor set is scrub → both
    // batteries (the q_corpus_clean CTE machinery over the scrubbed
    // corpus) → first-id-per-fp dedup; encode left-joins symtab with
    // the UNK-0 coalesce (the ingest door's rule) and the pack is the
    // same banded prefix-sum relation at shardBase 0
    "q_pipeline_pretrain_v2" ->
      s"""WITH $pretrainBaseCtes,
         vaug AS ($piiAugSql),
         scrub AS (SELECT doc_id, source, lang,
           ${piiCleanFoldSql("text")} AS text FROM vaug),
         ${gopherBatteryCteOver("scrub", "cd", "cf")},
         ${repSignalsCtesOver("scrub")},
         vkeep0 AS (
           SELECT cf.doc_id, cf.w,
             md5(array_to_string(cf.w, ' ')) AS fp
           FROM cf JOIN sig ON sig.doc_id = cf.doc_id
           WHERE ($gopherVerdictSql) = 'kept'
             AND ($repVerdictSql) = 'kept'),
         vkeep AS (
           SELECT * FROM (SELECT *, row_number()
             OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM vkeep0)
           WHERE rn = 1),
         vtok AS (SELECT doc_id, unnest(w) AS word,
                    generate_subscripts(w, 1) AS pos
                  FROM vkeep),
         vwsyms AS (SELECT t.doc_id, t.pos, coalesce(e.syms, [t.word]) AS syms
                    FROM vtok t LEFT JOIN enc e USING (word)),
         vstream AS (SELECT doc_id, pos, unnest(syms) AS sym,
                       generate_subscripts(syms, 1) AS spos
                     FROM vwsyms),
         vdocs AS (SELECT doc_id,
                     list(coalesce(tid, 0) ORDER BY pos, spos) AS ids,
                     CAST(count(*) AS BIGINT) AS n_tokens,
                     CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) AS mk
                   FROM vstream LEFT JOIN symtab USING (sym) GROUP BY doc_id),
         vc AS (
           SELECT doc_id, ids, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY mk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM vdocs WHERE n_tokens > 0),
         vseg AS (
           SELECT doc_id, ids, n_tokens, cum_before,
             unnest(range(CAST(cum_before // 2048 AS BIGINT),
               CAST((cum_before + n_tokens - 1) // 2048 + 1 AS BIGINT))) AS shard
           FROM vc)
         SELECT CAST(shard AS BIGINT) AS shard, doc_id,
           CAST(greatest(shard * 2048 - cum_before, 0) AS BIGINT) AS start_tok,
           CAST(least((shard + 1) * 2048, cum_before + n_tokens)
             - cum_before - 1 AS BIGINT) AS end_tok,
           CAST(greatest(shard * 2048, cum_before) - shard * 2048 AS BIGINT)
             AS off_in_shard,
           array_to_string(
             ids[CAST(greatest(shard * 2048 - cum_before, 0) + 1 AS BIGINT):
                 CAST(least((shard + 1) * 2048, cum_before + n_tokens)
                   - cum_before AS BIGINT)], '-') AS ids
         FROM vseg""",

    // the manifest is one more grouping over the IDENTICAL emitted
    // segments (shared CTE chain) — per-shard integrity facts
    "q_pretrain_manifest" ->
      s"""WITH $pretrainSegmentCtes
         SELECT shard,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(end_tok - start_tok + 1) AS BIGINT) AS n_tokens,
           md5(string_agg(ids, '-' ORDER BY off_in_shard)) AS shard_checksum
         FROM emitted GROUP BY shard""",

    "q_corpus_shuffle" ->
      """WITH k AS (
           SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               AS shuffle_key
           FROM documents),
         r AS (
           SELECT doc_id, shuffle_key,
             row_number() OVER (ORDER BY shuffle_key, doc_id) AS rnk
           FROM k)
         SELECT doc_id, shuffle_key,
           CAST((rnk - 1) % 64 AS BIGINT) AS shard,
           CAST((rnk - 1) // 64 + 1 AS BIGINT) AS pos
         FROM r""",

    // identical model construction + the same position-ordered fold;
    // DuckDB map extraction yields a 1-element list, hence tm[b][1]
    "q_dsir" ->
      """WITH d AS (
           SELECT doc_id, lang,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         t AS (
           SELECT doc_id, lang,
             list_transform(range(1, len(w)), i ->
               CAST(('0x' || substring(md5(w[i] || ' ' || w[i+1]), 1, 8)) AS BIGINT) % 1024) AS bks
           FROM d WHERE len(w) >= 2),
         gr AS (SELECT lang, unnest(bks) AS b FROM t),
         tc AS (SELECT b, count(*) AS c FROM gr WHERE lang = 'en' GROUP BY b),
         rc AS (SELECT b, count(*) AS c FROM gr GROUP BY b),
         model AS (
           SELECT
             (SELECT map(list(b ORDER BY b), list(c ORDER BY b)) FROM tc) AS tm,
             (SELECT CAST(sum(c) AS DOUBLE) FROM tc) AS tt,
             (SELECT map(list(b ORDER BY b), list(c ORDER BY b)) FROM rc) AS rm,
             (SELECT CAST(sum(c) AS DOUBLE) FROM rc) AS rt),
         sc AS (
           SELECT doc_id, lang, CAST(len(bks) AS BIGINT) AS n_bigrams,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), bks), (acc, b) ->
               acc + ln((coalesce(tm[b][1], 0) + 1) / (tt + 1024.0))
                   - ln((coalesce(rm[b][1], 0) + 1) / (rt + 1024.0))) AS log_w
           FROM t, model),
         g AS (
           SELECT *, log_w - ln(-ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 1000000 + 0.5) / 1000000.0)) AS score
           FROM sc)
         SELECT doc_id, lang, n_bigrams, round(log_w, 6) AS log_w,
           round(score, 6) AS score
         FROM g ORDER BY score DESC, doc_id LIMIT 100""",

    "q_lang_id" -> langIdOracleSql,

    "q_ndcg" ->
      s"""WITH bm AS (SELECT * FROM ($bm25OracleSql)),
         rel AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS rel FROM (
             SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
             FROM documents)
           WHERE word IN ('hash','join','query','vector') GROUP BY doc_id),
         ranked AS (
           SELECT bm.doc_id, coalesce(rel.rel, 0) AS rel,
             row_number() OVER (ORDER BY bm.bm25 DESC, bm.doc_id) AS rnk
           FROM bm LEFT JOIN rel ON bm.doc_id = rel.doc_id),
         dcg AS (
           SELECT list_reduce(list_prepend(0.0,
             list(CAST(rel AS DOUBLE) / (ln(CAST(rnk + 1 AS DOUBLE)) / ln(2.0))
               ORDER BY rnk)), (a, b) -> a + b) AS dcg
           FROM ranked WHERE rnk <= 10),
         top AS (SELECT doc_id, rel FROM rel
           ORDER BY rel DESC, doc_id LIMIT 10),
         ideal AS (
           SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS irank
           FROM top),
         idcg AS (
           SELECT list_reduce(list_prepend(0.0,
             list(CAST(rel AS DOUBLE) / (ln(CAST(irank + 1 AS DOUBLE)) / ln(2.0))
               ORDER BY irank)), (a, b) -> a + b) AS idcg
           FROM ideal)
         SELECT round(dcg.dcg, 6) AS dcg, round(idcg.idcg, 6) AS idcg,
           round(dcg.dcg / idcg.idcg, 6) AS ndcg
         FROM dcg, idcg""",

    "q_lang_confusion" ->
      s"""WITH pr AS (SELECT doc_id, predicted FROM ($langIdOracleSql)),
         cells AS (
           SELECT doc.lang AS actual, pr.predicted, count(*) AS n
           FROM documents doc JOIN pr ON doc.doc_id = pr.doc_id
           GROUP BY 1, 2)
         SELECT actual, predicted, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE) /
             sum(n) OVER (PARTITION BY predicted), 6) AS precision,
           round(CAST(n AS DOUBLE) /
             sum(n) OVER (PARTITION BY actual), 6) AS recall
         FROM cells""",

    "q_pack_contexts" ->
      """WITH d AS (
           SELECT doc_id, CAST(doc_id % 64 AS INTEGER) AS shard,
             CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens
           FROM documents),
         c AS (
           SELECT doc_id, shard, est_tokens,
             CAST(COALESCE(SUM(est_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
           FROM d)
         SELECT doc_id, shard, est_tokens, cum_before,
           cum_before // 8192 AS pack_id
         FROM c""",

    "q_tf_df" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
           FROM documents),
         t AS (
           SELECT doc_id, word, count(*) AS tf FROM tok
           WHERE length(word) > 0 GROUP BY doc_id, word),
         d AS (SELECT word, count(*) AS df FROM t GROUP BY word)
         SELECT t.doc_id, t.word, t.tf, d.df FROM t JOIN d USING (word)""",

    "q_chunk_windows" ->
      """WITH d AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks,
             CAST(len(string_split_regex(text, '\s+')) AS INTEGER) AS n_tok
           FROM documents),
         k AS (
           SELECT doc_id, toks, n_tok,
             CAST(unnest(range(0, (n_tok - 1) // 24 + 1)) AS INTEGER) AS chunk_id
           FROM d)
         SELECT doc_id, chunk_id,
           CAST(chunk_id * 24 AS INTEGER) AS start,
           CAST(least(32, n_tok - chunk_id * 24) AS INTEGER) AS chunk_len,
           array_to_string(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')
             AS chunk_text
         FROM k""",

    "q_bottomk_sample" ->
      """SELECT doc_id, source, rnk FROM (
           SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rnk
           FROM documents)
         WHERE rnk <= 10""",

    "q_zipf" ->
      """WITH w AS (
           SELECT word FROM (
             SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
             FROM documents) WHERE length(word) > 0),
         c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
         t AS (SELECT count(*) AS n_total FROM w)
         SELECT word, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, word) AS INTEGER) AS rnk,
           CAST(SUM(cnt) OVER (ORDER BY cnt DESC, word
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) / n_total AS cum_share
         FROM c, t""",

    // p_i terms: 1000/n_chars quotients are identical IEEE doubles both
    // engines; round(,6) never lands on a tie (a 7th-decimal-exact 5
    // needs n_chars = 2^a*5^b beyond 6-decimal termination — none in
    // range), so the decimal staging makes the HT sum engine-exact
    "q_weighted_sample" ->
      """SELECT lang, count(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
           CAST(SUM(CAST(round(1000.0 / least(n_chars, 1000), 6)
             AS DECIMAL(18,6))) AS DOUBLE) AS ht_docs
         FROM documents
         WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 < n_chars
         GROUP BY lang""",

    "q_mixture_sample" -> mixtureOracleSql,

    // same md5 ppm bucket idiom as every deterministic sampler here
    "q_corpus_split" ->
      """WITH u AS (
           SELECT doc_id, source,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000000 AS u
           FROM documents)
         SELECT source,
           CASE WHEN u < 800000 THEN 'train'
                WHEN u < 900000 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS docid_sum
         FROM u GROUP BY 1, 2""",

    // waterfilling cap off sorted per-language totals; division order
    // and round(,6) surfaces mirror the Spark side exactly
    "q_token_budget" ->
      """WITH toks AS (SELECT lang,
             CAST(sum(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT) AS tokens
           FROM documents GROUP BY lang),
         tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(max(tokens) AS BIGINT) AS max_tok FROM toks),
         ranked AS (
           SELECT lang, tokens,
             CAST(row_number() OVER (ORDER BY tokens, lang) AS BIGINT) AS i,
             CAST(sum(tokens) OVER (ORDER BY tokens, lang
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM toks),
         params AS (SELECT total * 4 // 5 AS b, n, max_tok FROM tot),
         star AS (SELECT max(i) AS istar, max_by(cum, i) AS cumstar
                  FROM ranked
                  WHERE cum + tokens * ((SELECT n FROM params) - i)
                          <= (SELECT b FROM params)),
         capq AS (
           SELECT CASE
             WHEN s.istar IS NULL THEN CAST(p.b AS DOUBLE) / p.n
             WHEN s.istar = p.n THEN CAST(p.max_tok AS DOUBLE)
             ELSE CAST(p.b - s.cumstar AS DOUBLE) / (p.n - s.istar)
           END AS cap FROM star s, params p)
         SELECT r.lang, r.tokens,
           round(least(CAST(r.tokens AS DOUBLE), c.cap), 6) AS allocation,
           round(least(CAST(r.tokens AS DOUBLE), c.cap) / r.tokens, 6) AS sample_rate,
           CAST(r.tokens <= c.cap AS BIGINT) AS kept_whole
         FROM ranked r, capq c""",

    "q_upsample" ->
      s"""WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS w,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok
           FROM documents),
         q AS (
           SELECT doc_id,
             CAST(${sqlCountIn(sqlList(stopEn))} AS DOUBLE) / n_tok AS stop_ratio
           FROM d WHERE n_tok > 0),
         k AS (
           SELECT doc_id,
             CAST(CASE WHEN stop_ratio >= 0.10 THEN 3
                       WHEN stop_ratio >= 0.05 THEN 2
                       ELSE 1 END AS INTEGER) AS k
           FROM q)
         SELECT doc_id, k, CAST(unnest(range(1, k + 1)) AS INTEGER) AS copy_idx
         FROM k""",

    "q_encode_ids" ->
      """WITH tok AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(text), '\s+')) AS word,
             generate_subscripts(string_split_regex(lower(text), '\s+'), 1) AS pos
           FROM documents),
         w AS (SELECT doc_id, pos, word FROM tok WHERE length(word) > 0),
         vocab AS (
           SELECT word,
             CAST(row_number() OVER (ORDER BY count(*) DESC, word) AS INTEGER) AS tid
           FROM w GROUP BY word),
         enc AS (
           SELECT w.doc_id, w.pos, COALESCE(v.tid, 0) AS tid
           FROM w LEFT JOIN vocab v USING (word))
         SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tok,
           string_agg(tid, '-' ORDER BY pos) AS ids
         FROM enc GROUP BY doc_id""",

    "q_train_test_split" ->
      """SELECT doc_id,
           CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
           CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'train'
                WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95 THEN 'valid'
                ELSE 'test' END AS split
         FROM documents""",

    // identical SQL to q_domain_cap: the heap variant must be
    // row-identical to the window form
    "q_domain_cap_heap" ->
      """WITH d AS (
           SELECT doc_id, source,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS h
           FROM documents),
         r AS (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
               AS rn
           FROM d)
         SELECT source, count(*) AS n_total,
           CAST(SUM(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN rn <= 50 THEN doc_id ELSE 0 END) AS BIGINT)
             AS kept_docid_sum
         FROM r GROUP BY source""",

    "q_domain_cap" ->
      """WITH d AS (
           SELECT doc_id, source,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS h
           FROM documents),
         r AS (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
               AS rn
           FROM d)
         SELECT source, count(*) AS n_total,
           CAST(SUM(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN rn <= 50 THEN doc_id ELSE 0 END) AS BIGINT)
             AS kept_docid_sum
         FROM r GROUP BY source""",

    // identical integer sums / list folds on both engines, so the
    // unrounded doubles the verdict compares are bit-equal
    "q_gopher_rules" ->
      s"""WITH $gopherBatteryCte
         SELECT doc_id, n_words, round(mean_wlen, 6) AS mean_word_len,
           round(sym_ratio, 6) AS symbol_ratio,
           round(alpha_ratio, 6) AS alpha_word_ratio, n_stop_hits,
           $gopherVerdictSql AS verdict
         FROM f""",

    // grouped-count oracle form vs the engine's map-side RLE fold —
    // the two sides check each other's algebra; fractions are single
    // BIGINT/BIGINT divisions on both engines (verdict compares the
    // unrounded values, surfaced columns round to 6)
    "q_repetition_signals" ->
      s"""WITH $repSignalsCtes
         SELECT doc_id,
           ${repFracCols.map(c => s"round($c, 6) AS $c").mkString(",\n           ")}
         FROM sig""",

    "q_repetition_rules" ->
      s"""WITH $repSignalsCtes
         SELECT doc_id, ($repVerdictSql) AS verdict,
           ($repVerdictSql) = 'kept' AS keep
         FROM sig""",

    "q_repetition_report" ->
      s"""WITH $repSignalsCtes
         SELECT source, ($repVerdictSql) AS verdict,
           CAST(count(*) AS BIGINT) AS n_docs
         FROM sig GROUP BY 1, 2""",

    // the composed chain: the oracle JOINS its three generated CTE
    // families over the shared `aug` corpus (the engine needs no join —
    // one projection computes all three batteries); verdict CASEs are
    // the same generated fragments the standalone oracles use
    "q_corpus_clean" ->
      s"""WITH $piiProfileSql,
         ${gopherBatteryCteOver("aug", "gd", "gf")},
         ${repSignalsCtesOver("aug")}
         SELECT gf.doc_id,
           CASE WHEN ($gopherVerdictSql) <> 'kept' THEN ($gopherVerdictSql)
                ELSE ($repVerdictSql) END AS verdict,
           CASE WHEN ($gopherVerdictSql) <> 'kept' THEN 'quality'
                WHEN ($repVerdictSql) <> 'kept' THEN 'repetition'
                ELSE 'kept' END AS stage,
           CAST(${PiiPatterns.map { case (cls, _, _) => s"pii.n_$cls" }
             .mkString(" + ")}
             AS BIGINT) AS n_pii
         FROM gf
         JOIN sig ON sig.doc_id = gf.doc_id
         JOIN pii ON pii.doc_id = gf.doc_id""",

    "q_corpus_filter" ->
      s"""WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS w,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok
           FROM documents),
         sc AS (
           SELECT doc_id, n_tok,
             CAST(${sqlCountIn(sqlList(stopEn))} AS DOUBLE) / n_tok AS stop_ratio,
             CAST(${sqlCountIn(sqlList(stopEn))} AS DOUBLE) / n_tok * 0.5
               + CAST(least(n_tok, 100) AS DOUBLE) / 100.0 * 0.5 AS quality_score
           FROM d WHERE n_tok > 0),
         r AS (
           SELECT doc_id, n_tok, stop_ratio, quality_score,
             CASE WHEN n_tok < 5 THEN 'too_short'
                  WHEN stop_ratio = 0.0 THEN 'no_stopwords'
                  WHEN quality_score < 0.3 THEN 'low_quality'
                  ELSE 'kept' END AS reason
           FROM sc)
         SELECT doc_id, n_tok, stop_ratio, quality_score, reason,
           reason = 'kept' AS keep FROM r""",

    "q_repetition" ->
      """WITH d AS (
           SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
         b AS (
           SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tok,
             unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
           FROM d WHERE len(w) >= 2),
         c AS (
           SELECT doc_id, n_tok, bigram, count(*) AS c FROM b GROUP BY 1, 2, 3)
         SELECT doc_id, n_tok, max(c) AS top_bigram_cnt,
           count(*) AS n_distinct_bigrams,
           CAST(max(c) AS DOUBLE) / (n_tok - 1) AS rep_ratio,
           CAST(max(c) AS DOUBLE) / (n_tok - 1) > 0.1 AS repetitive
         FROM c GROUP BY doc_id, n_tok""",

    "q_char_entropy" ->
      """WITH ch AS (
           SELECT doc_id, length(text) AS n, substr(text, CAST(i AS INTEGER), 1) AS c
           FROM documents, unnest(generate_series(1, length(text))) AS t(i)),
         cnt AS (SELECT doc_id, n, c, count(*) AS k FROM ch GROUP BY 1, 2, 3)
         SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           count(*) AS n_distinct_chars,
           round(list_reduce(list_prepend(0.0,
             list(-(CAST(k AS DOUBLE) / n) * ln(CAST(k AS DOUBLE) / n)
               ORDER BY c)), (a, b) -> a + b), 6) AS entropy
         FROM cnt GROUP BY doc_id, n""",

    "q_blocklist_scrub" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         SELECT doc_id,
           CAST(len(list_filter(w, t -> t IN ('customer', 'key', 'spark'))) AS INTEGER)
             AS n_redacted,
           md5(array_to_string(
             list_transform(w, t -> CASE WHEN t IN ('customer', 'key', 'spark')
                                         THEN '[REDACTED]' ELSE t END),
             ' ')) AS scrubbed_md5
         FROM d""",

    "q_decontaminate" ->
      """WITH d AS (
           SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
           FROM documents),
         g AS (
           SELECT doc_id,
             unnest(list_transform(range(1, len(w) - 2),
               i -> array_to_string(w[i:i+3], ' '))) AS gram
           FROM d WHERE len(w) >= 4),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 53 = 0),
         corpus AS (SELECT doc_id, gram FROM g WHERE doc_id % 53 != 0)
         SELECT c.doc_id, count(*) AS n_grams,
           count(b.gram) AS n_contaminated,
           CAST(count(b.gram) AS DOUBLE) / count(*) AS contamination,
           count(b.gram) > 0 AS contaminated
         FROM corpus c LEFT JOIN bench b ON c.gram = b.gram
         GROUP BY c.doc_id""",

    "q_vocab_coverage" ->
      """WITH tok AS (
           SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
           FROM documents),
         c AS (
           SELECT word, count(*) AS cnt FROM tok
           WHERE length(word) > 0 GROUP BY word),
         t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM c),
         top AS (SELECT word, cnt FROM c ORDER BY cnt DESC, word LIMIT 1000),
         r AS (
           SELECT word, cnt, total_tokens,
             CAST(row_number() OVER o AS INTEGER) AS rank,
             CAST(SUM(cnt) OVER (o ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS cum_cnt
           FROM top, t
           WINDOW o AS (ORDER BY cnt DESC, word))
         SELECT word, cnt, rank, cum_cnt,
           CAST(cum_cnt AS DOUBLE) / total_tokens AS cum_frac,
           CAST(cum_cnt AS DOUBLE) / total_tokens <= 0.9 AS in_vocab_90
         FROM r""",

    // Parallel unnests zip in DuckDB, so seg/seg_idx stay aligned; list
    // slices are 1-based inclusive.
    "q_line_dedup" ->
      """WITH d AS (
           SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
           FROM documents),
         segs AS (
           SELECT doc_id,
             unnest(list_transform(range(1, len(w)//4 + 1),
               i -> array_to_string(w[(i-1)*4 + 1:(i-1)*4 + 4], ' '))) AS seg,
             unnest(range(0, len(w)//4)) AS seg_idx
           FROM d WHERE len(w) >= 4),
         freq AS (
           SELECT seg, count(DISTINCT doc_id) AS n_docs FROM segs GROUP BY seg)
         SELECT doc_id, count(*) AS n_segments,
           CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
           md5(coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
             FILTER (WHERE n_docs = 1), '')) AS kept_md5
         FROM segs JOIN freq USING (seg)
         GROUP BY doc_id""",

    // the same lmTokens tokenization the store is built from (lowercase,
    // empty tokens dropped) — the synthesized-input rule: the oracle
    // rebuilds the store's counts from documents via CTEs
    "q_bigram_lm" ->
      """WITH d AS (
           SELECT list_filter(string_split_regex(lower(text), '\s+'),
             t -> length(t) > 0) AS w
           FROM documents),
         b AS (
           SELECT unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
           FROM d WHERE len(w) >= 2),
         c AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2)
         SELECT w1, w2, c12,
           CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
           CAST(c12 AS DOUBLE) / SUM(c12) OVER (PARTITION BY w1) AS cond_p,
           CAST(row_number() OVER (PARTITION BY w1 ORDER BY c12 DESC, w2)
             AS INTEGER) AS rnk
         FROM c""",

    "q_pii_scrub" ->
      """SELECT c_custkey,
           CAST(len(regexp_extract_all(c_name, '[0-9]')) AS INTEGER) AS n_digits,
           CAST(len(regexp_extract_all(c_name, '[0-9]{3,}')) AS INTEGER) AS n_digit_runs,
           regexp_replace(c_name, '[0-9]', '#', 'g') AS masked_name,
           sha256(c_name) AS name_token
         FROM customer""",

    // Gram/window arithmetic: n tokens -> n-3 grams (4-token, 1-based
    // inclusive slices), len(gh)-3 windows of 4 gram hashes each — the
    // same counts as the Spark side's 0-based sequence/slice forms.
    "q_winnow" ->
      """WITH d AS (
           SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         f AS (SELECT doc_id, w, len(w) AS n FROM d WHERE len(w) >= 7),
         g AS (
           SELECT doc_id,
             list_transform(range(1, n - 2), i ->
               CAST(('0x' || substring(md5(array_to_string(w[i:i+3], ' ')), 1, 8))
                 AS BIGINT)) AS gh
           FROM f),
         sel AS (
           SELECT doc_id, CAST(len(gh) AS INTEGER) AS n_grams,
             list_distinct(list_transform(range(1, len(gh) - 2),
               j -> list_min(gh[j:j+3]))) AS s
           FROM g)
         SELECT doc_id, n_grams, CAST(len(s) AS INTEGER) AS n_fp,
           md5(array_to_string(list_transform(list_sort(s),
             x -> CAST(x AS VARCHAR)), '-')) AS fp_md5
         FROM sel""",

    "q_span_dedup" ->
      """WITH t AS (
           SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         g AS (
           SELECT doc_id, md5(array_to_string(w[u.i:u.i+7], ' ')) AS gh
           FROM t, UNNEST(range(1, len(w) - 6)) AS u(i)
           WHERE len(w) >= 8),
         d AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) > 1)
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(d.gh) AS BIGINT) AS n_dup_spans,
           round(CAST(count(d.gh) AS DOUBLE) / count(*), 6) AS dup_ratio
         FROM g LEFT JOIN d ON g.gh = d.gh GROUP BY 1""",

    // Same island rule: spans at p < q merge iff q - p <= 8. The lag of
    // the first span per doc is NULL -> the <= 8 test is NULL -> ELSE 1
    // opens the first island on both engines.
    "q_span_intervals" ->
      """WITH t AS (
           SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         g AS (
           SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             md5(array_to_string(w[u.i:u.i+7], ' ')) AS gh
           FROM t, UNNEST(range(1, len(w) - 6)) AS u(i)
           WHERE len(w) >= 8),
         d AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) > 1),
         p AS (SELECT g.doc_id, g.pos FROM g JOIN d ON g.gh = d.gh),
         m AS (
           SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
               THEN 0 ELSE 1 END AS brk
           FROM p),
         i AS (
           SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM m)
         SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
           CAST(max(pos) + 7 AS BIGINT) AS end_tok,
           CAST(count(*) AS BIGINT) AS n_dup_spans
         FROM i GROUP BY doc_id, island""",

    // q_span_intervals' CTE chain + the applied mask: keep position ix
    // iff no interval covers it, rebuild the text from kept tokens
    "q_span_mask" ->
      """WITH t AS (
           SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         g AS (
           SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             md5(array_to_string(w[u.i:u.i+7], ' ')) AS gh
           FROM t, UNNEST(range(1, len(w) - 6)) AS u(i)
           WHERE len(w) >= 8),
         d AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) > 1),
         p AS (SELECT g.doc_id, g.pos FROM g JOIN d ON g.gh = d.gh),
         m AS (
           SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
               THEN 0 ELSE 1 END AS brk
           FROM p),
         i AS (
           SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM m),
         iv AS (
           SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
           FROM i GROUP BY doc_id, island),
         ivl AS (
           SELECT doc_id, list(struct_pack(s := s, e := e)) AS ivs
           FROM iv GROUP BY doc_id),
         masked AS (
           SELECT t.doc_id AS doc_id, t.w AS w,
             CAST(len(t.w) AS BIGINT) AS n_tokens,
             list_filter(range(1, len(t.w) + 1),
               ix -> ivl.ivs IS NULL OR len(list_filter(ivl.ivs,
                 v -> ix >= v.s AND ix <= v.e)) = 0) AS keep
           FROM t LEFT JOIN ivl ON t.doc_id = ivl.doc_id)
         SELECT doc_id, n_tokens,
           CAST(n_tokens - len(keep) AS BIGINT) AS n_masked,
           -- array_to_string([]) is NULL in DuckDB but '' in Spark's
           -- array_join — normalize the fully-masked-doc case
           coalesce(array_to_string(list_transform(keep, ix -> w[ix]), ' '), '')
             AS masked_text
         FROM masked""",

    "q_span_dedup_cross" ->
      """WITH t AS (
           SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         g AS (
           SELECT doc_id, md5(array_to_string(w[u.i:u.i+7], ' ')) AS gh
           FROM t, UNNEST(range(1, len(w) - 6)) AS u(i)
           WHERE len(w) >= 8),
         base AS (SELECT DISTINCT gh FROM g WHERE doc_id % 2 = 0),
         delta AS (SELECT doc_id, gh FROM g WHERE doc_id % 2 = 1)
         SELECT delta.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(base.gh) AS BIGINT) AS n_base_dup_spans,
           round(CAST(count(base.gh) AS DOUBLE) / count(*), 6) AS base_dup_ratio
         FROM delta LEFT JOIN base ON delta.gh = base.gh GROUP BY 1""",

    "q_fingerprint" ->
      """WITH d AS (
           SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
           FROM documents)
         SELECT doc_id, md5(norm) AS md5_fp,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(norm, ' '),
                 t -> CAST(length(t) * 7 + ascii(t) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS poly_fp
         FROM d WHERE length(norm) > 0"""
  )
}
