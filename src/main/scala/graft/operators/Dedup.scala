package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Deduplication family — the core LLM-pipeline extension (SURVEY.md §2.2
  * "Set operations → Dedup"): exact (hash group-by), n-gram Jaccard,
  * MinHash+LSH banding, SimHash Hamming-banding, and embedding-cosine
  * near-dup.
  *
  * Scale design: every variant is shuffle-bounded by the BUCKET key
  * (normalized text hash / LSH band value), never by a cross join. The
  * candidate-pair set after banding is tiny relative to n^2; exact
  * verification runs only on candidates. This is the standard
  * MinHash-banding construction (Broder; cf. MMDS ch.3) expressed as
  * explode -> equi-join -> re-check, all Catalyst-planned.
  */
object Dedup {

  /** Whitespace-normalized lowercase text. */
  private def norm(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))

  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) / size(array_union(a, b))

  /** Hashed distinct 3-gram shingles via the native ngram_hashes expression
    * (no gram strings materialized — downstream shuffles 8-byte longs).
    */
  private def hashedGrams(s: SparkSession, dir: String): DataFrame =
    batchGrams(Tables(s, dir, "documents")) // ONE gram definition: any
    // change to normalization/width flows to the store AND the streaming
    // batch path together (the mixtureRate single-definition discipline)

  /** One-time full-corpus hashed-gram store: (doc_id, grams array<long>)
    * written to parquet ONCE per sf dir and read by every n-gram family
    * query (MinHash, PPJoin, cross-corpus delta) — the materialized
    * tokenization a production pipeline lands at ingest. At 100 TB
    * re-tokenizing the corpus inside every dedup query is its dominant
    * cost (norm + split + rolling hash over every byte, per query); the
    * store replaces that with a compact column-pruned parquet read. The
    * content is a deterministic function of `documents`, so every oracle
    * is unchanged. Same pattern as ensureBaseSignatureStore /
    * Graph.ensureGraphStore.
    */
  def ensureGramStore(s: SparkSession, dir: String): DataFrame = {
    val store = Sources.parquetStore(s, dir, "gram_store_v1")(hashedGrams(s, dir))
    // Scan-granularity insurance: the store is compact (8-byte hashes),
    // so file packing (maxPartitionBytes >> store size) can hand the
    // WHOLE table to one scan task — and the family's expensive map
    // stages (gram explode, 64-perm MinHash signatures) inherit that
    // width and run serially (measured: the 16x smoke's prefix join spent
    // ~40 s in a single-task explode). One shuffle of the doc-level rows
    // guarantees full map width; it costs <1% of the gram-level volume
    // every consumer shuffles downstream anyway, so it stays negligible
    // at 100 TB where file splits would provide the width by themselves.
    store.repartition(col("doc_id"))
  }

  /** (doc_id, sig) -> 16 bands of 4 -> (doc_id, band, bh). */
  private def bandsFromSig(sigs: DataFrame): DataFrame =
    sigs.select(
        col("doc_id"),
        explode(expr(
          "transform(sequence(0, 15), b -> struct(b AS band, hash(slice(sig, b*4+1, 4)) AS bh))")).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"))

  /** 64-perm MinHash signature -> 16 bands of 4 -> (doc_id, band, bh). */
  private def minhashBands(g: DataFrame): DataFrame =
    bandsFromSig(g.withColumn("sig", call_function("minhash64", col("grams"))))

  /** One-time FULL-corpus MinHash signature store (SURVEY §7.7's last
    * candidate): (doc_id, sig array<long>[64]) derived from the gram
    * store, written ONCE per sf dir and read by every banded consumer —
    * q_dedup_minhash, nearDupCanonicals (hence the canonical store and
    * every dedup-first composition), and crossPairs' delta half. The
    * store is ~512 bytes/doc — a sliver next to the gram store — and it
    * retires the per-query 64-perm signature fold, which at 100 TB is a
    * full pass over every gram hash in the corpus PER CONSUMER. Content
    * is a deterministic function of the gram store (hence of
    * `documents`), so every oracle is unchanged; DedupSpec pins
    * store sig == freshly-computed minhash64(grams).
    */
  def ensureSignatureStore(s: SparkSession, dir: String): DataFrame =
    Sources.parquetStore(s, dir, "minhash_sig_v1") {
      ensureGramStore(s, dir)
        .withColumn("sig", call_function("minhash64", col("grams")))
        .select("doc_id", "sig")
    }

  /** One-time base-corpus signature store (the incremental-dedup side
    * table the round-2 verdict asked for): hashed grams + MinHash
    * signature for the base (even doc_id) half, written to parquet ONCE
    * per sf dir and read by every subsequent q_dedup_cross run — the
    * daily-delta join then tokenizes only the delta. At 100 TB this is
    * the difference between re-reading the whole base corpus every day
    * and reading a compact (doc_id, hashes, sig) table. Carries grams
    * (unlike the full sig store) because the incremental verify step
    * needs base gram sets without a second join; sig comes from the
    * full signature store so there is exactly ONE signature fold per
    * corpus across all stores.
    */
  def ensureBaseSignatureStore(s: SparkSession, dir: String): DataFrame =
    Sources.parquetStore(s, dir, "minhash_base_v1") {
      // derived from the gram + signature stores, not a second corpus
      // tokenize or signature fold
      ensureGramStore(s, dir)
        .filter(col("doc_id") % 2 === 0)
        .join(ensureSignatureStore(s, dir), "doc_id")
        .select("doc_id", "grams", "sig")
    }

  /** Ingest-time near-dup filter for ONE delta batch against the
    * persisted base signature store: the batch's gram frame `withG`
    * (norm → hashed 3-grams, [[batchGrams]]) is MinHash-banded and
    * band-joined against the base bands, candidates are exact-verified
    * on gram-set Jaccard, and the verified dup ids are anti-joined away.
    * Work per batch is O(batch + collisions) — the base corpus is
    * touched only through its compact (doc_id, grams, sig) store, never
    * re-read as text — which is what makes dedup-at-ingest viable when
    * the base is 100 TB and the delta is a day's crawl. Docs under 3
    * tokens have no grams, generate no candidates, and survive by
    * construction (same contract as the batch family's `len(w) >= 3`
    * gram filter).
    *
    * Bands and verify both read `withG`, so the caller persists it once
    * per batch. Public for the near-dup doors (Streaming) and the
    * GROWING door's sequential-fold law; if `withG` already carries a
    * `sig` column the bands reuse it instead of folding the 64
    * permutations a second time.
    */
  def survivorsFromGrams(batchDocs: DataFrame, withG: DataFrame,
      base: DataFrame, threshold: Double): DataFrame = {
    val cand = (if (withG.columns.contains("sig")) bandsFromSig(withG)
      else minhashBands(withG))
      .select(col("doc_id").as("doc_id_b"), col("band"), col("bh"))
      .join(bandsFromSig(base).select(col("doc_id").as("doc_id_a"),
        col("band"), col("bh")), Seq("band", "bh"))
      .select("doc_id_a", "doc_id_b").distinct()
    val dupIds = cand
      .join(base.select(col("doc_id").as("doc_id_a"), col("grams").as("g_a")), "doc_id_a")
      .join(withG.select(col("doc_id").as("doc_id_b"), col("grams").as("g_b")), "doc_id_b")
      .filter(jaccard(col("g_a"), col("g_b")) >= threshold)
      .select(col("doc_id_b").as("doc_id")).distinct()
    // left_anti keeps every sub-3-token doc (they never enter withG)
    batchDocs.select("doc_id").join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** THE gram definition over any (doc_id, text) frame — identical to
    * the store's (the single-definition discipline), public so ingest
    * doors can gram their own micro-batches (near-dup filter, streaming
    * containment).
    */
  def batchGrams(batchDocs: DataFrame): DataFrame =
    batchDocs
      .withColumn("w", split(norm(col("text")), " "))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), call_function("ngram_hashes", col("w")).as("grams"))

  /** Loan-pattern variant for long-lived sessions (the streaming
    * foreachBatch sink): runs `use` on the survivor frame, then
    * unpersists ONLY this batch's gram cache — the previous
    * per-micro-batch `catalog.clearCache()` nuked every other live
    * cache in the shared session.
    */
  def withNearDupSurvivors[T](batchDocs: DataFrame, base: DataFrame,
      threshold: Double = 0.7)(use: DataFrame => T): T = {
    val withG = batchGrams(batchDocs).persist()
    try use(survivorsFromGrams(batchDocs, withG, base, threshold))
    finally withG.unpersist()
  }

  /** Exact-verify candidate (doc_id_a, doc_id_b) pairs against gram sets. */
  private def verifyJaccard(cand: DataFrame, grams: DataFrame, threshold: Double): DataFrame = {
    val ga = grams.select(col("doc_id").as("doc_id_a"), col("grams").as("g_a"))
    val gb = grams.select(col("doc_id").as("doc_id_b"), col("grams").as("g_b"))
    cand.join(ga, "doc_id_a").join(gb, "doc_id_b")
      .withColumn("jaccard", jaccard(col("g_a"), col("g_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  // SemDeDup cluster assignment (Abbas et al. 2023, arXiv:2303.09540):
  // every embedding joins its max-cosine cluster among k deterministic
  // seed vectors. Scale design: the seed set is k rows broadcast to a
  // single map-only pass over the corpus (no corpus shuffle; the groupBy
  // in assignToSeeds is on vec_id, the corpus' own key, collapsing the k
  // candidate rows each vector produced map-side). k grows with the
  // corpus (k ~ n / target_cluster_size) exactly so that the
  // within-cluster pairwise stage stays bounded; at k too large to
  // broadcast, the assignment becomes the IVF centroid-store probe
  // (Similarity.ivfCentroids) — same semantics, banded probe.

  /** Seed count targeting ~128 vectors per cluster (floor 8) — the knob
    * that keeps BOTH SemDeDup stages bounded as the corpus grows: the
    * within-cluster pairwise stays ~n * 128 / 2 comparisons total, and
    * the broadcast seed table stays tiny relative to the corpus
    * (n/128 seeds of 64 floats). Same corpus-size-adaptive idiom as
    * `Lsh.bandBits` / `simhashBandsFor`.
    */
  def semanticK(n: Long): Int = math.max(8L, n / 128L).toInt

  /** The adaptive-k seed table of a vector corpus: the k smallest
    * md5(vec_id) rows — a reproducible pseudo-random sample. Runs one
    * driver-side count (an index-build-time decision, like the adaptive
    * LSH band width), not a data collect.
    */
  def semanticSeeds(e: DataFrame): DataFrame =
    semanticSeedsK(e, semanticK(e.count()))

  /** [[semanticSeeds]] at an explicit seed count — the diagnostic knob
    * behind the recall-vs-k curve (SCALE.md, SemDeDup probe-cost ladder): the
    * production operating point stays [[semanticK]]'s n/128, chosen
    * from that measured curve.
    */
  def semanticSeedsK(e: DataFrame, k: Int): DataFrame =
    e.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("seed_id"), col("embedding").as("s_emb"))

  /** Per-group argmax of `score`, ties broken to the SMALLER `id` — the
    * oracle's ORDER BY score DESC, id (ties are never observed on real
    * doubles, but the DedupSpec tie law plants one). The struct's
    * fields are `score`'s column name and `neg_id`.
    */
  private def argMax(score: String, id: String): Column =
    max_by(struct(col(score), (-col(id)).as("neg_id")),
      struct(col(score), -col(id)))

  /** Output column of the `r`-th nearest seed. */
  private def rankCol(r: Int): String =
    if (r == 1) "cluster_id" else s"cluster${r}_id"

  private def seedCos: Column =
    call_function("cosine_sim", col("embedding"), col("s_emb"))

  /** Where [[assignToSeeds]] looks for a vector's nearest seeds. */
  sealed trait SeedSearch {
    /** This search without the top-1 occupancy cap — what a caller
      * asking for `top` > 1 passes.
      */
    def uncapped: SeedSearch = this
  }

  /** Every seed is a candidate: one broadcast pass per rank. */
  case object Exact extends SeedSearch

  /** IVF two-level search over a prebuilt [[IvfSeedIndex]]: a vector
    * scores the √k coarse centers, then only the seeds of its
    * top-`probes` cells. `cap` bounds each top-1 cluster's occupancy
    * (see [[assignToSeeds]]).
    */
  final case class Ivf(index: IvfSeedIndex, probes: Int = 2,
      cap: Option[Int] = None) extends SeedSearch {
    override def uncapped: SeedSearch = copy(cap = None)
  }

  /** Nearest-seed assignment — ClusterJoin's one rule (a home pivot plus
    * replication to the nearby ones): every vector of `e` gets its
    * `top` nearest seeds by (cosine desc, seed_id asc), as
    * (vec_id, embedding, cluster_id, centroid_cos[, cluster2_id
    * [, cluster3_id]]). PRECONDITION: at least `top` seeds — with
    * fewer, the exclusion filters empty the remainder and every vector
    * silently drops from the output (the DuckDB recall oracle's rn = 3
    * inner join mirrors this); `semanticK` floors at 8.
    *
    * [[Exact]] is a broadcast cross join plus a per-vector `max_by` —
    * map-only over the corpus, bit-identical to every oracle. Each rank
    * beyond the first is one more broadcast pass that excludes the
    * ranks before it per row (map-side), so its `max_by` is exactly the
    * next-nearest; per-key aggregation state stays O(1). Rank 2 is the
    * ingest door's DELTA-side multi-probe (q_stream_semantic_filter): a
    * near-dup whose base twin sits just across the assignment boundary
    * is caught by also probing the runner-up cluster, at ×2 cost on the
    * delta batch only (the base store keeps single assignment). Rank 3
    * is the ×3 ladder rung (q_dedup_semantic_recall, the p3 door). A
    * margin-ADAPTIVE 2-probe (swap the runner-up for the 3rd-nearest
    * when cos1 − cos2 ≥ ε) was measured WORSE than fixed at sf0.1 for
    * every ε in [0.01, 0.2] (390–417 vs 420 of 920 true pairs caught):
    * the margin does not predict which neighbor hides a
    * boundary-straddling dup, so the ladder is ×1/×2/×3 probes
    * (SCALE.md).
    *
    * [[Ivf]] is the MEASURED mitigation for the superlinear-assignment
    * edge (a banded hyperplane-code variant was measured and rejected:
    * 1.6× faster than exact at 64× with 0.50 agreement — SCALE.md
    * round-11): per-vector work drops from k to ~(1+probes)·√k. Its
    * candidates are ranked once by (ccos desc, seed_id) and ranks
    * 1..`top` pivoted, so the tie rule is the exact path's; with every
    * cell probed it equals [[Exact]] (DedupSpec law). Approximation
    * surface: the true nearest seed may live outside the probed cells —
    * the boundary-straddle SemDeDup itself accepts, now in seed space.
    * Vectors with fewer than `top` candidates (a probed cell can be
    * seedless — cells are occupancy-skewed) fall back to the exact
    * path. The seed frame and the ranked frame persist for the
    * result's lifetime (the ranked frame feeds both the fallback
    * anti-join and the union); the harness clearCache or the door
    * runner's per-batch release frees them.
    *
    * `cap` (top-1 only) is the measured mitigation for the IVF flip's
    * one surprise (SCALE.md round-12): coarse-cell geometry concentrates
    * assignments into fewer, larger clusters, and the SemDeDup prune
    * pays sum(cluster²) for it (67.7 s vs the exact arm's 12.8 s at
    * n = 256k, k = 2000). Capping a cluster at `cap` members — spilling
    * its FARTHEST members (lowest centroid cos, the likeliest
    * misassignments) to their runner-up seed, re-scored against it —
    * cut that prune to 25.8 s at identical end-to-end quality (keep
    * agreement 0.993, removal recall 0.996, ~1% of vectors spilled at
    * cap = 512 = 4× the n/128 design width). The occupancy window
    * partitions by cluster (bounded by occupancy, never corpus-grain).
    * Law: all cells probed + cap ≥ n degenerates to exact (DedupSpec).
    */
  def assignToSeeds(e: DataFrame, seeds: DataFrame, top: Int = 1,
      search: SeedSearch = Exact): DataFrame = search match {
    case Exact => exactTop(e, seeds, top)
    case Ivf(index, probes, None) => ivfTop(e, seeds, top, index, probes)
    case Ivf(index, probes, Some(cap)) =>
      require(top == 1, s"top $top with cap $cap: the occupancy cap " +
        "spills to the runner-up, so it applies to top-1 assignment only")
      val top2 = ivfTop(e, seeds, 2, index, probes)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val ranked = top2.withColumn("rk", row_number().over(
          Window.partitionBy("cluster_id")
            .orderBy(col("centroid_cos").desc, col("vec_id"))))
        .withColumn("fin",
          when(col("rk") <= cap, col("cluster_id"))
            .otherwise(col("cluster2_id")))
      // the seeds join is k-bounded and Catalyst broadcasts it while small
      ranked.join(seeds, ranked("fin") === seeds("seed_id"))
        .select(col("vec_id"), col("embedding"),
          col("fin").as("cluster_id"),
          when(col("rk") <= cap, col("centroid_cos"))
            .otherwise(seedCos).as("centroid_cos"))
  }

  private def exactTop(e: DataFrame, seeds: DataFrame, top: Int): DataFrame = {
    val nearest = e.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("embedding"), col("seed_id"), seedCos.as("ccos"))
      .groupBy("vec_id")
      .agg(argMax("ccos", "seed_id").as("best"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"),
        (-col("best.neg_id")).as("cluster_id"),
        col("best.ccos").as("centroid_cos"))
    (2 to top).foldLeft(nearest) { (acc, r) =>
      val cols = acc.columns.toSeq
      val carried = cols.filterNot(_ == "vec_id")
      acc.crossJoin(broadcast(seeds))
        .filter((1 until r).map(i => col("seed_id") =!= col(rankCol(i))).reduce(_ && _))
        .select(cols.map(col) :+ col("seed_id") :+ seedCos.as("ccos"): _*)
        .groupBy("vec_id")
        .agg(first(col(carried.head)).as(carried.head),
          carried.tail.map(c => first(col(c)).as(c)) :+
            argMax("ccos", "seed_id").as("best"): _*)
        .select(cols.map(col) :+ (-col("best.neg_id")).as(rankCol(r)): _*)
    }
  }

  private def ivfTop(e: DataFrame, seeds: DataFrame, top: Int,
      index: IvfSeedIndex, probes: Int): DataFrame = {
    val sdf = seeds.persist(StorageLevel.MEMORY_AND_DISK)
    def at(r: Int, c: String): Column = min(when(col("rn") === r, col(c)))
    // persisted: feeds BOTH the fallback anti-join and the final union —
    // without it the whole candidate stage (coarse cross join + windows
    // + groupBy) re-runs per consumer
    val assigned = ivfCandidates(e, index, probes)
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("ccos").desc, col("seed_id"))))
      .filter(col("rn") <= top)
      .groupBy("vec_id")
      .agg(first(col("embedding")).as("embedding"),
        at(1, "seed_id").as("cluster_id") +: at(1, "ccos").as("centroid_cos") +:
          (2 to top).map(r => at(r, "seed_id").as(rankCol(r))): _*)
      .filter(col(rankCol(top)).isNotNull) // < top candidates -> exact path
      .persist(StorageLevel.MEMORY_AND_DISK)
    val orphans = e.select("vec_id", "embedding")
      .join(assigned.select("vec_id"), Seq("vec_id"), "left_anti")
    assigned.unionByName(
      exactTop(orphans, sdf.select(col("seed_id"), col("s_emb")), top))
  }

  /** A seed table's one-time coarse IVF index: ~√k coarse centers (an
    * md5-subsample of the seeds, the family's sampling idiom) plus every
    * seed exactly assigned to its nearest center (the k × √k build).
    * Both frames are persisted at construction — build ONCE per seed
    * table and share it across calls (the streaming door's
    * micro-batches; round-11 ADVICE — without this the index rebuilt
    * every batch beyond k = [[ExactAssignMaxSeeds]]). Release with
    * [[IvfSeedIndex.unpersist]] (or the harness clearCache).
    */
  final case class IvfSeedIndex(coarse: DataFrame, seedCell: DataFrame) {
    def unpersist(): Unit = { coarse.unpersist(); seedCell.unpersist(); () }
  }

  /** Build the [[IvfSeedIndex]] of a seed table (`k` = its known row
    * count, the callers all have it — avoids a recount).
    */
  def buildIvfSeedIndex(sdf: DataFrame, k: Long): IvfSeedIndex = {
    val nc = math.max(4L, math.round(math.sqrt(k.toDouble))).toInt
    val coarse = sdf
      .orderBy(md5(col("seed_id").cast("string")), col("seed_id"))
      .limit(nc)
      .select(col("seed_id").as("c_id"), col("s_emb").as("c_emb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seedCell = sdf.crossJoin(broadcast(coarse))
      .select(col("seed_id"), col("s_emb"), col("c_id"),
        call_function("cosine_sim", col("s_emb"), col("c_emb")).as("sc"))
      .groupBy("seed_id")
      .agg(argMax("sc", "c_id").as("b"), first(col("s_emb")).as("s_emb"))
      .select(col("seed_id"), col("s_emb"), (-col("b.neg_id")).as("cell"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    IvfSeedIndex(coarse, seedCell)
  }

  /** The IVF candidate frame: (vec_id, embedding, seed_id, ccos) rows
    * restricted to the seeds of each vector's top-`probes` coarse cells
    * — per-vector work √k coarse scores + ~probes·√k seed scores.
    */
  private def ivfCandidates(e: DataFrame, idx: IvfSeedIndex,
      probes: Int): DataFrame = {
    // probe: vector → its top-`probes` coarse cells (window over the
    // per-vector nc-row group — bounded by √k, never corpus-grain)
    e.crossJoin(broadcast(idx.coarse))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        call_function("cosine_sim", col("embedding"), col("c_emb")).as("vc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("vc").desc, col("c_id"))))
      .filter(col("rn") <= probes)
      .select(col("vec_id"), col("embedding"), col("c_id").as("cell"))
      .join(broadcast(idx.seedCell), "cell")
      .select(col("vec_id"), col("embedding"), col("seed_id"), seedCos.as("ccos"))
  }

  /** The seed count above which the exact broadcast cross join stops
    * being the right plan (SCALE.md round-11: at k=1000 the IVF 2-probe
    * is already 3× faster; every fixture SF sits far below). Chosen so
    * [[seedSearch]] stays bit-identical to exact assignment everywhere
    * the DuckDB oracles look, and flips to the measured sub-quadratic
    * path exactly where the 64× smoke showed exact assignment going
    * superlinear.
    */
  val ExactAssignMaxSeeds = 1024L

  /** THE exact-vs-IVF decision for a seed table of known size `k`:
    * [[Exact]] while k ≤ [[ExactAssignMaxSeeds]]; beyond, [[Ivf]] over
    * an index built here once (pass the result to every call on this
    * seed table), 2-probe, with the top-1 occupancy cap at 512. The
    * cap's durable value is the WORST-CASE bound (any cluster's prune
    * contribution ≤ cap², vs unbounded under adversarial dup skew) plus
    * the cluster-partitioned output the prune join reuses; measured
    * quality-flat at ~1% spill (SCALE.md round-12). Callers asking for
    * `top` > 1 pass `.uncapped`.
    *
    * Prints the path taken to stderr (round-11 ADVICE): the exact path
    * is what keeps q_dedup_semantic and the semantic doors bit-identical
    * to their DuckDB oracles, so a fixture growing past ~131k embeddings
    * must be diagnosed HERE rather than as a confusing hash mismatch.
    * Verify additionally asserts the exact path for the oracled
    * semantic queries (Verify.scala).
    */
  def seedSearch(seeds: DataFrame, k: Long): SeedSearch = {
    val exact = k <= ExactAssignMaxSeeds
    System.err.println(s"[graft] seedSearch: k=$k -> " +
      (if (exact) "exact broadcast" else "approximate IVF 2-probe") +
      " assignment path")
    if (exact) Exact else Ivf(buildIvfSeedIndex(seeds, k), cap = Some(512))
  }

  def semanticAssigned(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings").select("vec_id", "embedding")
    val k = semanticK(e.count())
    val seeds = semanticSeedsK(e, k)
    assignToSeeds(e, seeds, search = seedSearch(seeds, k))
  }

  /** The SemDeDup WITHIN-cluster prune over an assigned frame
    * (vec_id, embedding, cluster_id, centroid_cos) — q_dedup_semantic's
    * second stage, factored so the k > ExactAssignMaxSeeds flip can be
    * driven end-to-end at scale (SCALE.md round-12): mark for removal
    * any member with a same-cluster neighbor at cosine >= tau that the
    * keep-rule prefers (LOWER centroid similarity keeps; ties to the
    * smaller vec_id). Cost is sum(cluster_size²), bounded because k
    * scales with the corpus. The caller persists `a` (it feeds both
    * join sides and the final left join).
    */
  def semanticPruned(a: DataFrame, tau: Double = 0.4): DataFrame = {
    val m = a.select(col("cluster_id"), col("vec_id"), col("embedding"),
      col("centroid_cos"))
    val removed = m.as("x").join(m.as("y"),
        col("x.cluster_id") === col("y.cluster_id") &&
          (col("y.centroid_cos") < col("x.centroid_cos") ||
            (col("y.centroid_cos") === col("x.centroid_cos") &&
              col("y.vec_id") < col("x.vec_id"))))
      .filter(call_function("cosine_sim",
        col("x.embedding"), col("y.embedding")) >= tau)
      .select(col("x.vec_id").as("vec_id")).distinct()
      .withColumn("rm", lit(1L))
    a.join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("centroid_cos"),
        when(col("rm").isNull, 1L).otherwise(0L).as("is_kept"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: group on normalized content. At 100 TB you group on a
    // content hash, not the text itself — fp is the output key here.
    "q_dedup_exact" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(norm(col("text")).as("norm_text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(md5(col("norm_text")).as("fp"), col("keep_id"), col("n_copies"))),

    // Exact n-gram Jaccard between consecutive doc pairs — the
    // SQL-oracle-checkable core of the similarity metric used by MinHash.
    "q_ngram_jaccard" -> ((s, dir) => {
      // Reads the hashed gram store: set intersection/union CARDINALITIES
      // over the 8-byte gram hashes equal the string-gram cardinalities up
      // to 2^-64 collisions — the same documented equivalence the
      // q_dedup_minhash / q_dedup_cross oracles already rely on — so the
      // string-shingle oracle is unchanged while the query drops its
      // per-run corpus shingling pass. Persisted: both join sides read
      // the SAME store scan (without this, each side pays its own parquet
      // read plus the store's width-insurance repartition shuffle).
      val g = ensureGramStore(s, dir).persist()
      val a = g.select(col("doc_id").as("doc_id_a"), col("grams").as("g_a"))
      val b = g.select(col("doc_id").as("doc_id_b"), col("grams").as("g_b"))
      a.join(b, col("doc_id_b") === col("doc_id_a") + 1)
        .select(
          col("doc_id_a"), col("doc_id_b"),
          size(array_intersect(col("g_a"), col("g_b"))).as("inter_cnt"),
          size(array_union(col("g_a"), col("g_b"))).as("union_cnt"),
          jaccard(col("g_a"), col("g_b")).as("jaccard"))
    }),

    // MinHash + LSH banding near-dedup: signature(64) -> 16 bands of 4 ->
    // equi-join on (band, band_hash) -> exact-Jaccard verification >= 0.7.
    // No oracle (hash-specific); DedupSpec checks recall/precision against
    // the brute-force exact pairs at sf0.001.
    //
    // Hot path is fully native: ngram_hashes combines per-token hashes into
    // rolling 3-gram hashes (no gram strings ever materialized), minhash64
    // folds them into the k=64 signature off Tungsten ArrayData (no UDF
    // boxing). Verification runs Jaccard on the 8-byte hash sets — identical
    // to string-gram Jaccard up to 2^-64 collisions — so the candidate join
    // shuffles longs, not ~30-byte gram strings.
    "q_dedup_minhash" -> ((s, dir) => {
      // Persisted: `g` (gram store read — one-time tokenize amortized
      // across the family) feeds both sides of the exact-Jaccard
      // verification; `bands` (signature STORE read — the one-time 64-perm
      // fold likewise amortized, SURVEY §7.7) feeds both sides of the
      // candidate self-join. Without the persists the stores are re-read
      // per consumer side — the dominant cost at corpus scale.
      val g = ensureGramStore(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
      val bands = bandsFromSig(ensureSignatureStore(s, dir))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val l = bands.select(col("doc_id").as("doc_id_a"), col("band"), col("bh"))
      val r = bands.select(col("doc_id").as("doc_id_b"), col("band"), col("bh"))
      val cand = l.join(r, Seq("band", "bh"))
        .filter(col("doc_id_a") < col("doc_id_b"))
        .select("doc_id_a", "doc_id_b").distinct()
      verifyJaccard(cand, g, 0.7)
    }),

    // Cross-corpus (A JOIN B) near-dedup — the incremental shape a corpus
    // pipeline runs daily: a small delta batch banded against a large base
    // (whose signatures would be precomputed and stored at scale). Base =
    // even doc_ids, delta = odd; candidates share a MinHash band, then
    // exact-Jaccard >= 0.7 on candidates only. ORACLED: the fixture's
    // planted pairs all have jaccard >= 0.9, where 16-bands-of-4 recall is
    // 1 - (1 - s^4)^16 > 1 - 5e-8 — the banded result equals the exact
    // cross-parity pair set (DedupSpec additionally pins recall).
    "q_dedup_cross" -> ((s, dir) => crossPairs(s, dir)),

    // Near-dup clustering + canonical selection — the retention step every
    // dedup pipeline ends with: connected components over the (oracled)
    // cross-corpus near-dup pair graph, each doc mapped to the min doc_id
    // of its component (its canonical representative). ORACLED via a
    // DuckDB recursive-CTE transitive closure over the identical pair set.
    "q_dedup_clusters" -> ((s, dir) => {
      val edges = crossPairs(s, dir)
        .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
      val labels = connectedComponents(edges)
      Tables(s, dir, "documents").select("doc_id")
        .join(labels, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"))
        .withColumn("is_canonical",
          (col("doc_id") === col("cluster_id")).cast(LongType))
    }),

    // Quality-aware canonical selection — production retention keeps the
    // BEST doc per near-dup cluster (here: longest normalized token
    // stream, doc_id tie-break — the keep-longest convention of
    // exact/near dedup pipelines, cf. Lee et al. 2021 §4), not the
    // smallest id. Rides the same oracled pair graph + CC labels as
    // q_dedup_clusters; the only additions are a map-side token count
    // and one per-cluster struct-extremum agg on the TUPLE quality key
    // (n_tok major, -doc_id minor — lexicographic struct comparison, so
    // no arithmetic packing that would collide once doc_id outgrows the
    // multiplier; doc_id is unique so the key is total and max_by is
    // deterministic on both engines) + a graph-sized join back. No new
    // corpus shuffle beyond the groupBy(cluster_id) over label rows.
    "q_cluster_canonical" -> ((s, dir) => {
      val edges = crossPairs(s, dir)
        .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
      val labels = connectedComponents(edges)
      val labeled = Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(norm(col("text")), " ")).cast(LongType).as("n_tok"))
        .join(labels, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"),
          col("n_tok"))
      val canon = labeled.groupBy("cluster_id")
        .agg(max_by(col("doc_id"),
          struct(col("n_tok"), -col("doc_id"))).as("canonical_id"))
      labeled.join(canon, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("n_tok"),
          col("canonical_id"),
          (col("doc_id") === col("canonical_id")).cast(LongType).as("keep"))
    }),

    // SimHash near-dedup: 64-bit fingerprint, banded Hamming search,
    // verified with bit_count(xor) <= maxHamming. Band count ADAPTS to
    // corpus size inside simhashNearDup (simhashBandsFor): fixed 8x8
    // banding has only 256 buckets per band, so occupancy — and candidate
    // pairs — grow quadratically with the corpus (measured 20x cost on
    // 16x docs in ScaleSmoke); fewer, wider bands keep buckets sparse at
    // the price of a smaller guaranteed Hamming radius, the standard LSH
    // trade.
    // Store-fed since the fingerprint store landed: the banded Hamming
    // search runs entirely off the one-time 16-B/doc simhash_fp_v1
    // table — zero documents scans (plan-pinned), no per-query corpus
    // tokenize. Persisted: the store read feeds the band-count sizing
    // count and both sides of the band self-join.
    "q_dedup_simhash" -> ((s, dir) =>
      simhashNearDupOnFps(ensureSimhashStore(s, dir)
        .persist(StorageLevel.MEMORY_AND_DISK))),

    // Driver-visible SimHash recall proof: every 10th doc is planted
    // again VERBATIM under doc_id + 10^9 (clear of the ScaleSmoke
    // replica-id stride) and the banded pipeline must
    // report each (original, copy) pair at Hamming 0. Identical
    // normalized text => identical fingerprint => the pair agrees on
    // every band, so recovery is guaranteed by the pigeonhole argument
    // with zero probabilistic slack — the plant predicate is therefore a
    // sound plain-SQL oracle. Set-filtered (not nearest-only), so
    // organic exact dups of the same doc can't displace the planted pair.
    "q_dedup_simhash_recall" -> ((s, dir) => {
      // the planted +10^9 copies reuse the store rows of their originals
      // — identical normalized text ⇒ identical fingerprint BY
      // DEFINITION (the exact structural argument this query's recall
      // guarantee and oracle already rest on; fingerprint freshness is
      // pinned by the DedupSpec store law)
      val st = ensureSimhashStore(s, dir)
      val d = st.unionAll(
          st.filter(col("doc_id") % 10 === 0)
            .withColumn("doc_id", col("doc_id") + lit(1000000000L)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      simhashNearDupOnFps(d)
        .filter(col("doc_id_b") === col("doc_id_a") + 1000000000L)
        .select("doc_id_a", "doc_id_b", "hamming")
    }),

    // Embedding near-dup: per-vector nearest neighbor through hyperplane-LSH
    // buckets (full 64-bit code, band width adaptive to corpus size — see
    // Lsh.bandBits), exact cosine on candidates, dup flag at 0.95. Vectors
    // whose buckets yield no candidate get a NULL neighbor — at scale
    // that's the point: no n^2 pass ever happens. DedupSpec plants
    // perturbed near-dup vectors and pins recall >= 0.9 / precision 1.0
    // through this exact pipeline.
    "q_dedup_embedding" -> ((s, dir) =>
      embeddingNearDup(Tables(s, dir, "embeddings"))),

    // Driver-visible embedding-LSH recall proof (closes the last
    // rows-only gap in the dedup family): every 10th vector is planted
    // again VERBATIM under vec_id + 10^9 (clear of the ScaleSmoke
    // replica-id stride) and the banded candidate stage +
    // exact-cosine verify must recover each (original, copy) pair.
    // Identical embedding => identical hyperplane code => the pair
    // collides on EVERY band, and cosine(x, x) ~ 1.0 >= 0.95 regardless
    // of float rounding — recovery is structural, so the plant predicate
    // is a sound plain-SQL oracle. Set-filtered over embeddingCandidates
    // (not the nearest-only report), so an organic exact-dup vector
    // can't displace the planted pair; ids only (no float column) so the
    // driver hash can't trip on last-ulp cosine rendering.
    "q_dedup_embedding_recall" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(1000000000L)).as("vec_id"), col("embedding"))
      embeddingCandidates(codedEmbeddings(e.unionAll(planted)))
        .filter(col("nid") === col("vid") - 1000000000L && col("cos") >= 0.95)
        .select(col("nid").as("vec_id_a"), col("vid").as("vec_id_b"))
    }),

    // Fuzzy string-matching join (entity resolution): near-identical
    // record names found by BLOCKING + edit-distance verification — the
    // record-linkage shape (Fellegi-Sunter blocking stage) that string
    // LSH doesn't cover. The declared semantics: pairs agreeing on
    // (length, all-but-last-2-chars) with levenshtein <= 1 — the block
    // key is part of the contract, so both engines compute the identical
    // set and the oracle is exact. At corpus scale the equi-join on the
    // block key is the whole point: candidates are block-sized, never
    // n^2, and blocks stay bounded because the key carries most of the
    // name's entropy. levenshtein() is codegen'd built-in on both sides.
    "q_fuzzy_join" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          length(col("c_name")).as("len"),
          expr("substring(c_name, 1, length(c_name) - 2)").as("blk"))
      val a = c.select(col("c_custkey").as("key_a"), col("c_name").as("name_a"),
        col("len"), col("blk"))
      val b = c.select(col("c_custkey").as("key_b"), col("c_name").as("name_b"),
        col("len"), col("blk"))
      a.join(b, Seq("len", "blk"))
        .filter(col("key_a") < col("key_b"))
        // bounded-DP form (round-15): levenshtein with a threshold only
        // fills the |i-j| <= 1 diagonal band instead of the full
        // len×len matrix (~30× less DP work per pair) and returns -1
        // for pairs beyond it. Output-identical: kept pairs (dist 0/1)
        // get their exact distance, dropped pairs were dropped before
        .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 1))
        .filter(col("dist") >= 0)
        .select("key_a", "key_b", "name_a", "name_b", "dist")
    }),

    // Typo/phonetic entity-resolution join on the NAME DICTIONARY: the
    // distinct-name table (dictionary-bounded, not corpus-bounded) blocks
    // on first character, candidate pairs are scored by the native
    // codegen jaro_winkler expression (graft.functions.JaroWinkler — a
    // UDF would deserialize every UTF8String pair out of Tungsten), and
    // only high-similarity pairs survive. Threshold 0.88 sits 4.5e-4
    // from the nearest attained fixture value, so the double compare is
    // engine-stable; the DuckDB oracle re-scores the identical pairs
    // with its built-in jaro_winkler_similarity (same textbook
    // definition, boost gated at jaro > 0.7 — verified empirically).
    "q_jaro_names" -> ((s, dir) => {
      val w = Tables(s, dir, "part").select(col("p_name")).distinct()
      val a = w.select(col("p_name").as("name_a"),
        substring(col("p_name"), 1, 1).as("blk"))
      val b = w.select(col("p_name").as("name_b"),
        substring(col("p_name"), 1, 1).as("blk"))
      a.join(b, Seq("blk"))
        .filter(col("name_a") < col("name_b"))
        .withColumn("jw", expr("jaro_winkler(name_a, name_b)"))
        .filter(col("jw") >= 0.88)
        .select(col("name_a"), col("name_b"), round(col("jw"), 6).as("jw"))
    }),

    // EXACT all-pairs similarity self-join via prefix filtering — the
    // deterministic complement to the MinHash family (AllPairs/PPJoin,
    // Bayardo et al. WWW'07): provably the same pair set as the brute-
    // force quadratic join, but candidates come from an equi-join on the
    // RAREST shingles only. Fully oracled against the brute-force DuckDB
    // pair join (which the LSH variants, being hash-specific, can't be).
    "q_simjoin_prefix" -> ((s, dir) =>
      prefixSimilarityJoinOnGrams(ensureGramStore(s, dir), 0.7)),

    // Asymmetric CONTAINMENT join — quotation/boilerplate detection:
    // find probe docs whose gram set is >= 80% inside some other doc
    // (Jaccard misses small-inside-big; containment is the right
    // statistic). Sound one-sided prefix filter: C(A→B) >= t needs
    // overlap o = ceil(t·|A|), so if A's first |A|−o+1 RAREST grams all
    // miss B, the remaining grams can supply at most o−1 — the prefix ⋈
    // full-index equi-join loses no qualifying pair, and exact
    // verification runs on candidates only. Probe side is the doc_id%3
    // slice (the incremental "is this batch quoted anywhere" shape).
    "q_containment" -> ((s, dir) =>
      containmentJoinOnGrams(ensureGramStore(s, dir))),

    // Dedup-FIRST containment — the scale-safe form of q_containment:
    // near-dup MinHash pairs → connected components → min-id canonicals,
    // THEN the same one-sided PPJoin with the CANONICAL-only gram store
    // as the container index (probe side unchanged: the doc_id%3 batch —
    // "is this doc quoted anywhere in the DEDUPED corpus"). Raw
    // containment's candidate/output volume is quadratic in near-dup
    // clique size because both join sides carry every clique member (the
    // 64× all-dup sweep OOM-killed it after 77 GB of spill — SCALE.md
    // round-11); deduping the index bounds each clique's contribution to
    // its one representative, so volume rides the PROBE count linearly.
    // Output equals raw containment restricted to canonical CONTAINERS —
    // the collapsed cliques are exactly what's gone (DedupSpec law).
    // Fully oracled: the DuckDB side composes q_dedup_minhash's exact
    // pair set, the q_dedup_clusters recursive-CTE closure, and the
    // brute-force containment probe against the canonical slice.
    // reads the one-time canonical store — the near-dup CC front half is
    // an ingest/maintenance artifact, not a per-query cost (its in-query
    // form was measured first: SCALE.md round-12). Round 13: fed by the
    // persisted rarity-order stores (contain_cnt_v1 + contain_index_v1)
    // so the index-side counts and sorted sets are read, not recomputed —
    // output identical to the recount path by the DedupSpec law (exact
    // verify decides membership under any consistent shared order).
    "q_containment_canonical" -> ((s, dir) => {
      val sets = ensureContainIndexStore(s, dir)
      containmentProbeStoredOrder(
        ensureGramStore(s, dir).filter(col("doc_id") % 3 === 0),
        sets, containIndexPostings(sets), ensureContainCountStore(s, dir))
    }),

    // Bloom-accelerated incremental exact dedup — the 100-TB idiom for
    // "is this new batch already in the base corpus": the base's
    // fingerprint set compresses into a bloom filter (KBs broadcast to
    // every delta partition), definite-new rows short-circuit WITHOUT
    // joining, and only bloom hits (true dups + ~1% false positives) pay
    // the exact semi/anti-join verify — so the join input is dup-sized,
    // not delta-sized. The sketch only PRE-FILTERS; the final answer is
    // exact, hence fully oracled. Delta is derived deterministically:
    // every 13th doc re-submitted verbatim (true dup), every 17th with a
    // suffix token (near-miss that must classify as new).
    "q_dedup_bloom" -> ((s, dir) => {
      val doc = Tables(s, dir, "documents").select("doc_id", "text")
      val delta = doc.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionAll(doc.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" extra")).as("text")))
      val baseFp = doc.select(md5(col("text")).as("fp"))
      // invocation-unique view names + drop-after-analysis: the old
      // session-global names raced concurrent invocations (the second
      // createOrReplace swapped the first run's base mid-query) and
      // leaked catalog entries after the query finished. s.sql analyzes
      // eagerly, so the returned plan holds the subtrees and the names
      // can drop immediately.
      val tag = java.util.UUID.randomUUID().toString.replace("-", "")
      val baseView = s"graft_bloom_base_$tag"
      val deltaView = s"graft_bloom_delta_$tag"
      baseFp.createOrReplaceTempView(baseView)
      delta.select(col("doc_id"), md5(col("text")).as("fp"))
        .createOrReplaceTempView(deltaView)
      // the bloom must reach might_contain as a scalar subquery (Spark
      // plans it as a one-row subquery broadcast — the delta side never
      // shuffles for the probe)
      val probed = try s.sql(
        s"""SELECT doc_id, fp, bloom_might_contain(
             (SELECT bloom_filter_agg(xxhash64(fp),
                CAST(10000 AS BIGINT), CAST(200000 AS BIGINT))
              FROM $baseView),
             xxhash64(fp)) AS hit
           FROM $deltaView""") finally {
        s.catalog.dropTempView(baseView)
        s.catalog.dropTempView(deltaView)
      }
      val candidates = probed.filter(col("hit")).drop("hit")
      val definiteNew = probed.filter(!col("hit")).drop("hit")
      // USING-joins reorder columns key-first: re-select before the
      // positional unions so doc_id never lines up under fp
      val dups = candidates.join(baseFp, Seq("fp"), "left_semi")
        .select("doc_id", "fp")
      val falsePos = candidates.join(baseFp, Seq("fp"), "left_anti")
        .select("doc_id", "fp")
      dups.withColumn("status", lit("dup"))
        .unionAll(falsePos.unionAll(definiteNew.select("doc_id", "fp"))
          .withColumn("status", lit("new")))
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
    }),

    // SemDeDup (Abbas et al. 2023): SEMANTIC dedup by cluster-then-prune
    // — near-dups that share no n-grams (paraphrases, translations,
    // templated rewrites) but sit close in embedding space. Cluster every
    // vector to its nearest seed (semanticAssigned), then mark for
    // removal any member with a same-cluster neighbor at cosine >= tau
    // that the paper's keep-rule prefers (LOWER centroid similarity
    // keeps — SemDeDup retains the example farthest from the cluster
    // centroid to maximize retained diversity; ties break to the smaller
    // vec_id). The pairwise stage runs WITHIN clusters only — cost is
    // sum(cluster_size^2), bounded by construction because k scales with
    // the corpus; no global n^2 pass ever happens. tau = 0.4 is
    // calibrated to the fixture's random-ish embeddings (organic pair
    // cosines top out ~0.5); production text embeddings use ~0.95+.
    // Fully oracled: seeds, assignment, and keep-rule are all
    // deterministic SQL, so DuckDB reproduces the exact decision set.
    "q_dedup_semantic" -> ((s, dir) =>
      semanticPruned(semanticAssigned(s, dir)
        .persist(StorageLevel.MEMORY_AND_DISK))),

    // The clustering's price, measured: SemDeDup only compares WITHIN
    // clusters, so a dup pair straddling a cluster boundary is missed.
    // This row computes the exact global pair set (brute force, cosine
    // >= tau) and reports how many land in the same cluster — recall of
    // the cluster-then-prune candidate stage against ground truth —
    // PLUS recall_mp2 / recall_mp3, the same measure when the probing
    // side also checks its runner-up (the round-9 delta-side multi-probe
    // the streaming door uses) and its 3rd-nearest cluster — the
    // measured ×1/×2/×3 probe-cost ladder recorded in SCALE.md. A
    // margin-ADAPTIVE 2-probe was measured and REJECTED (see
    // assignToSeeds' scaladoc): the ladder is the honest knob.
    // The cluster count k was ALSO measured (SCALE.md round-11,
    // SemDeDup probe-cost ladder): recall falls monotonically as k rises (0.457 at the
    // production n/128 vs 0.345 at n/64 vs 0.298 at n/32, 2-probe at
    // sf0.1), so n/128 stays the operating point — more probes, not
    // more clusters, is how recall is bought at linear cost. Beyond the
    // ladder, the measured union lever (2-probe ∪ hyperplane-band
    // collisions: 0.457 → 0.552 at sf0.1 for one banded self-join —
    // SCALE.md round-11) is the next knob; the door keeps the
    // oracled 2-probe (assignment itself is ADAPTIVE — exact below
    // k=1024, IVF beyond — result-identical at every oracle scale). The
    // brute-force arm is a BENCH-SCALE DIAGNOSTIC (quadratic by
    // definition, like the other *_recall rows), not a production path;
    // at corpus scale recall is estimated on a sampled slice.
    "q_dedup_semantic_recall" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings").select("vec_id", "embedding")
      val a = assignToSeeds(e, semanticSeeds(e), top = 3)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val l = a.select(col("vec_id").as("vid_a"),
        col("embedding").as("emb_a"), col("cluster_id").as("cl_a"),
        col("cluster2_id").as("cl2_a"), col("cluster3_id").as("cl3_a"))
      val r = a.select(col("vec_id").as("vid_b"),
        col("embedding").as("emb_b"), col("cluster_id").as("cl_b"),
        col("cluster2_id").as("cl2_b"), col("cluster3_id").as("cl3_b"))
      l.join(r, col("vid_a") < col("vid_b"))
        .filter(call_function("cosine_sim",
          col("emb_a"), col("emb_b")) >= 0.4)
        .select((col("cl_a") === col("cl_b")).cast("long").as("detected"),
          // 2-probe door recall: the pair is caught if WHICHEVER member
          // arrives second multi-probes a store holding the other's
          // single assignment (both arrival orders OR-ed)
          (col("cl_a") === col("cl_b") || col("cl2_a") === col("cl_b") ||
            col("cl_a") === col("cl2_b")).cast("long").as("detected_mp"),
          (col("cl_a") === col("cl_b") || col("cl2_a") === col("cl_b") ||
            col("cl_a") === col("cl2_b") || col("cl3_a") === col("cl_b") ||
            col("cl_a") === col("cl3_b")).cast("long").as("detected_mp3"))
        .agg(count(lit(1)).as("n_true_pairs"),
          sum(col("detected")).as("n_detected"),
          sum(col("detected_mp")).as("n_detected_mp"),
          sum(col("detected_mp3")).as("n_detected_mp3"))
        .select(col("n_true_pairs"), col("n_detected"),
          (col("n_detected").cast("double") / col("n_true_pairs"))
            .as("recall"),
          col("n_detected_mp"),
          (col("n_detected_mp").cast("double") / col("n_true_pairs"))
            .as("recall_mp2"),
          col("n_detected_mp3"),
          (col("n_detected_mp3").cast("double") / col("n_true_pairs"))
            .as("recall_mp3"))
    }),

    // Recall twin of the door's band-UNION mode (q_stream_semantic_union
    // — round-11 verdict task 3): the same brute-force ground truth as
    // q_dedup_semantic_recall, measuring how many true pairs the 2-probe
    // cluster candidates catch alone vs OR-ed with hyperplane-band
    // collisions (the q_dedup_embedding candidate machinery over the
    // same vectors; adaptive band width). ROWS-ONLY by contract: band
    // collisions are hash-specific, so no ANSI SQL reproduces the union
    // arm — the oracled probe-ladder row above stays the default
    // contract, and DedupSpec pins union ⊇ 2-probe plus the planted-
    // copy structural floor. Measured at sf0.1: 0.457 → 0.552 for one
    // banded self-join, families complementary (overlap ~0.09) —
    // SCALE.md round-11.
    "q_dedup_semantic_recall_union" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings").select("vec_id", "embedding")
      val n = e.count()
      val a = assignToSeeds(e, semanticSeedsK(e, semanticK(n)), top = 2)
        .withColumn("code", call_function("hyperplane_bits", col("embedding")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val bands = Lsh.explodeBands(
        a.select(col("vec_id"), col("code")), "code", Lsh.bandBits(n))
      val coll = bands.select(col("vec_id").as("vid_a"), col("band"), col("bv"))
        .join(bands.select(col("vec_id").as("vid_b"), col("band"), col("bv")),
          Seq("band", "bv"))
        .filter(col("vid_a") < col("vid_b"))
        .select("vid_a", "vid_b").distinct()
        .withColumn("band_hit", lit(1L))
      val l = a.select(col("vec_id").as("vid_a"),
        col("embedding").as("emb_a"), col("cluster_id").as("cl_a"),
        col("cluster2_id").as("cl2_a"))
      val r = a.select(col("vec_id").as("vid_b"),
        col("embedding").as("emb_b"), col("cluster_id").as("cl_b"),
        col("cluster2_id").as("cl2_b"))
      l.join(r, col("vid_a") < col("vid_b"))
        .filter(call_function("cosine_sim",
          col("emb_a"), col("emb_b")) >= 0.4)
        .join(coll, Seq("vid_a", "vid_b"), "left")
        .select(
          (col("cl_a") === col("cl_b") || col("cl2_a") === col("cl_b") ||
            col("cl_a") === col("cl2_b")).cast("long").as("d2"),
          coalesce(col("band_hit"), lit(0L)).as("bh"))
        .agg(count(lit(1)).as("n_true_pairs"),
          sum(col("d2")).as("n_detected_mp2"),
          sum(greatest(col("d2"), col("bh"))).as("n_detected_union"),
          // band detections the cluster probes MISSED (band-exclusive),
          // plus the band-arm total — together they give the families'
          // overlap without post-hoc arithmetic
          sum(greatest(col("bh") - col("d2"), lit(0L))).as("n_band_only"),
          sum(col("bh")).as("n_band_hits"))
        .select(col("n_true_pairs"), col("n_detected_mp2"),
          (col("n_detected_mp2").cast("double") / col("n_true_pairs"))
            .as("recall_mp2"),
          col("n_detected_union"),
          (col("n_detected_union").cast("double") / col("n_true_pairs"))
            .as("recall_union"),
          col("n_band_only"), col("n_band_hits"))
    })
  )

  /** (doc_id, h) gram rows joined to their document frequency `cnt`
    * within the same rows — the rarity key when no stored count exists.
    */
  private def withDocFreq(toks: DataFrame): DataFrame =
    toks.join(toks.groupBy("h").agg(count(lit(1)).as("cnt")), "h")

  /** THE rarity-ordered set build of every PPJoin form: (h, cnt) rows
    * grouped by `keys` into (keys…, hs, n), `hs` sorted by the total
    * order (cnt asc, hash asc) — rarest grams first, so a prefix of `hs`
    * is its rarest grams.
    */
  private def raritySets(ranked: DataFrame, keys: String*): DataFrame =
    ranked.groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(struct(col("cnt"), col("h")))).as("arr"))
      .select(keys.map(col) :+ expr("transform(arr, x -> x.h)").as("hs") :+
        size(col("arr")).as("n"): _*)

  /** A rarity-ordered set's prefix at threshold `t` — its first
    * n − ceil(t·n) + 1 grams — posexploded to (pos, col) so positions
    * ride along for the PPJoin positional filter. The ceil runs over an
    * epsilon-nudged product: double rounding can land n·t a last-ulp
    * ABOVE the exact rational (e.g. 10·0.7 → 7.0000000000000005), and
    * ceil of that over-sizes the required overlap ⇒ an under-sized
    * prefix that silently drops qualifying pairs. The nudge can only
    * lengthen the prefix (extra candidates — exact verify still
    * prunes), never shorten it, so completeness holds on both sides of
    * the boundary.
    */
  private def prefixGrams(t: Double): Column =
    posexplode(slice(col("hs"), lit(1),
      (col("n") - ceil(col("n") * lit(t) - lit(1e-9)) + 1).cast(IntegerType)))

  /** The one-sided PPJoin shared by every containment form: candidates,
    * then exact verify. C(A→B) ≥ t needs overlap o = ceil(t·|A|), so
    * if A's first |A| − o + 1 RAREST grams all miss B, the rest can
    * supply at most o − 1: each probe set's prefix is equi-joined
    * against the index `postings` ([[containIndexPostings]] of
    * `indexSets`) with the one-sided length (|B| ≥ t|A|) and positional
    * filters IN the join, and loses no qualifying pair as long as both
    * sides share one rarity total order. Epsilon discipline as in
    * [[prefixGrams]]: nudges only lengthen prefixes / admit borderline
    * candidates, never drop a qualifying pair.
    *
    * The verify is the single place the output statistic lives
    * (round-12 review: the forms must never diverge here): candidates
    * re-join both rarity-ordered sets, the size filter re-applies, and
    * containment = |A∩B|/|A| decides membership — the prefix stage only
    * PRUNES. `pin` wraps the batch-bounded build sides (the door's
    * broadcast hint).
    */
  private def containmentJoin(probeSets: DataFrame, indexSets: DataFrame,
      postings: DataFrame, t: Double,
      pin: DataFrame => DataFrame = identity): DataFrame = {
    val prefixA = probeSets.select(col("doc_id").as("doc_id_a"),
        col("n").as("n_a"), prefixGrams(t))
      .withColumnRenamed("pos", "p_a").withColumnRenamed("col", "h")
    val cand = pin(prefixA).join(postings, "h")
      .filter(col("doc_id_a") =!= col("doc_id_b"))
      .filter(col("n_b") >= col("n_a") * t - lit(1e-9))
      .filter(lit(1) + least(col("n_a") - col("p_a") - 1,
        col("n_b") - col("p_b") - 1)
        >= ceil(col("n_a") * lit(t) - lit(1e-9)))
      .select("doc_id_a", "doc_id_b").distinct()
    val va = probeSets.select(col("doc_id").as("doc_id_a"),
      col("hs").as("hs_a"), col("n").as("n_a"))
    val vb = indexSets.select(col("doc_id").as("doc_id_b"),
      col("hs").as("hs_b"), col("n").as("n_b"))
    pin(pin(cand).join(va, "doc_id_a")).join(vb, "doc_id_b")
      // size filter: containment >= t forces |B| >= t|A| (one-sided)
      .filter(col("n_b") >= col("n_a") * t - lit(1e-9))
      .withColumn("inter_cnt", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("containment",
        col("inter_cnt").cast(DoubleType) / col("n_a"))
      .filter(col("containment") >= t)
      .select(col("doc_id_a").as("doc_id"),
        col("doc_id_b").as("container"),
        col("n_a").as("n_grams"), col("inter_cnt"), col("containment"))
  }

  /** q_containment's body over any (doc_id, grams) frame — factored so
    * the dedup-first mitigation can be MEASURED (SCALE.md, 64× growth rows):
    * run the same one-sided PPJoin over the near-dup cluster CANONICALS
    * instead of the raw corpus. Probe side is the doc_id%3 slice, index
    * side every doc; see the q_containment query comment for the
    * completeness argument.
    */
  def containmentJoinOnGrams(g: DataFrame, t: Double = 0.8): DataFrame = {
    // persisted: feeds the doc-frequency counts and the rarity-ordered
    // sets (one store explode, not two)
    val toks = g.select(col("doc_id"), explode(col("grams")).as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sets = raritySets(withDocFreq(toks), "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    containmentJoin(sets.filter(col("doc_id") % 3 === 0), sets,
      containIndexPostings(sets), t)
  }

  /** [[containmentJoinOnGrams]] with EXPLICIT probe and container-index
    * frames — the dedup-first entry point (q_containment_canonical feeds
    * the canonical-only store as the index; probes stay the raw batch).
    * The PPJoin prefix lemma needs one total rarity order SHARED by both
    * sides, so the doc-frequency counts fold over the union of both gram
    * streams — the order is a function of the hash alone, and ANY
    * consistent order preserves candidate completeness (the exact verify
    * decides membership), so a doc appearing on both sides contributing
    * twice to a count is harmless.
    */
  def containmentJoinProbeIndex(probe: DataFrame, index: DataFrame,
      t: Double = 0.8): DataFrame = {
    val toks = probe.select(lit(1L).as("side"), col("doc_id"),
        explode(col("grams")).as("h"))
      .unionAll(index.select(lit(2L).as("side"), col("doc_id"),
        explode(col("grams")).as("h")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sets = raritySets(withDocFreq(toks), "side", "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val indexSets = sets.filter(col("side") === 2L)
    containmentJoin(sets.filter(col("side") === 1L), indexSets,
      containIndexPostings(indexSets), t)
  }

  /** One-time containment-index COUNT store (`contain_cnt_v1`): the
    * gram → document-frequency table over the CANONICAL container index
    * (gram store ⋈ canonical store). This table DEFINES the rarity total
    * order (cnt asc, hash asc) every stored-order containment consumer
    * ranks against — persisting it is what lets an ingest door rank a
    * micro-batch's probe grams without recounting the index side per
    * batch (the round-12 weak). Grams absent from this table rank
    * RAREST (count 0 < any stored count ≥ 1): completeness holds under
    * ANY consistent shared total order (the probe/index lemma at
    * [[containmentJoinProbeIndex]]) because the exact verify decides
    * membership, and an unseen gram can never match an index gram
    * anyway. Content is a deterministic function of `documents`, so
    * every oracle is unchanged.
    */
  def ensureContainCountStore(s: SparkSession, dir: String): DataFrame =
    Sources.parquetStore(s, dir, "contain_cnt_v1") {
      ensureGramStore(s, dir)
        .join(ensureCanonicalStore(s, dir), Seq("doc_id"))
        .select(explode(col("grams")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("cnt"))
    }

  /** One-time containment-index SETS store (`contain_index_v1`): each
    * canonical container's rarity-ordered hash set (doc_id, hs, n),
    * sorted by the [[ensureContainCountStore]] order. Together the two
    * stores retire the per-batch index recount that made
    * q_stream_containment the only door whose per-batch cost grew with
    * base size: a consumer grams ONLY its own probe rows, ranks them
    * against the stored counts, and equi-joins the stored prefix/index
    * sets — the index side is scanned, never re-aggregated or
    * re-sorted. DedupSpec pins store == fresh derivation bit-identically
    * and stored-order output == the recount path's output.
    */
  def ensureContainIndexStore(s: SparkSession, dir: String): DataFrame =
    Sources.parquetStore(s, dir, "contain_index_v1") {
      val cnt = ensureContainCountStore(s, dir)
      raritySets(ensureGramStore(s, dir)
          .join(ensureCanonicalStore(s, dir), Seq("doc_id"))
          .select(col("doc_id"), explode(col("grams")).as("h"))
          .join(cnt, "h"), "doc_id")
    }

  /** Postings view of the sets store — (doc_id_b, n_b, p_b, h), the
    * equi-join side of the stored-order PPJoin. A long-lived door
    * derives this ONCE and persists it across micro-batches (the
    * bandsFromSig(base) convention); the batch query derives it inline.
    */
  def containIndexPostings(sets: DataFrame): DataFrame =
    sets.select(col("doc_id").as("doc_id_b"), col("n").as("n_b"),
        posexplode(col("hs")))
      .withColumnRenamed("pos", "p_b").withColumnRenamed("col", "h")

  /** [[containmentJoinProbeIndex]] against the PERSISTED index stores —
    * the per-batch-flat form (round-12 verdict task 1). The recount form
    * unions probe + index grams and recomputes doc-frequency counts and
    * the index's rarity-sorted sets inside every call, so a streaming
    * door paid O(index grams) in SHUFFLES per micro-batch; here the
    * index enters only through three scans of compact persisted frames
    * (cnt lookup, postings equi-join, verify sets) — zero index-side
    * shuffles, sorts, or aggregations per call:
    *
    *  1. rank: the probe's grams left-join the stored counts
    *     (coalesce 0 = unseen ranks rarest) and sort per doc — work
    *     O(batch grams).
    *  2. candidates: probe prefixes equi-join the stored postings with
    *     the one-sided PPJoin length + positional filters IN the join.
    *  3. verify: exact containment against the stored rarity-ordered
    *     sets (array_intersect is order-insensitive).
    *
    * Soundness: both sides are ordered by the SAME total order
    * (stored cnt asc, hash asc; probe-only grams at count 0), and the
    * one-sided prefix/positional lemma holds under any shared total
    * order — the exact verify decides membership, so the output is
    * IDENTICAL to the recount path's (DedupSpec law). `broadcastProbe =
    * true` (doors) additionally pins every index-side join — cnt
    * lookup, postings equi-join, AND the verify join — to broadcast-hash
    * with the batch-bounded side as build, by HINT rather than AQE
    * (micro-batch plans may run without it), so the persisted stores
    * are only ever scanned map-side. The two per-call caches (probe
    * grams and probe sets) persist for the result's lifetime; the
    * harness clearCache or the door runner's per-batch release frees
    * them.
    */
  def containmentProbeStoredOrder(probe: DataFrame, sets: DataFrame,
      postings: DataFrame, cnt: DataFrame, t: Double = 0.8,
      broadcastProbe: Boolean = false): DataFrame = {
    def bp(df: DataFrame): DataFrame = if (broadcastProbe) broadcast(df) else df
    val toksP = probe.select(col("doc_id"), explode(col("grams")).as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // count lookup: in door mode the store is filtered map-side by the
    // batch's broadcast gram set first, so the wide cnt table is never
    // shuffled and the frame broadcast back is batch-bounded
    val ranked =
      if (broadcastProbe) {
        val seen = cnt.join(broadcast(toksP.select("h").distinct()), "h")
        toksP.join(broadcast(seen), Seq("h"), "left")
      } else toksP.join(cnt, Seq("h"), "left")
    val setsP = raritySets(ranked.na.fill(0L, Seq("cnt")), "doc_id") // unseen rank rarest
      .persist(StorageLevel.MEMORY_AND_DISK)
    containmentJoin(setsP, sets, postings, t, pin = bp)
  }

  /** Exact 3-gram-shingle Jaccard self-join at `threshold` via prefix
    * filtering, over a hashed (doc_id, grams) frame — the gram store, or
    * [[batchGrams]] of any (doc_id, text) frame.
    *
    * Order all shingles by (global frequency asc, hash asc) — a total
    * order putting the rarest shingles first. Each doc's PREFIX is its
    * first `n - ceil(t*n) + 1` shingles in that order. Two sets with
    * J >= t have overlap >= ceil(t * max(|A|,|B|)), and two ordered sets
    * whose overlap >= that bound must collide inside these prefixes
    * (skipping the whole prefix leaves fewer than the required common
    * shingles) — so the prefix equi-join loses NO qualifying pair, and
    * exact verification on candidates only reproduces the quadratic
    * join's result. At corpus scale the prefix shingles are by
    * construction the low-frequency tail, so candidate buckets stay
    * small where a join on ALL shingles would explode on boilerplate;
    * the frequency join shuffles (shingle, cnt) — the shingle vocabulary
    * is unbounded, so no broadcast. Same granularity (distinct word
    * 3-grams) as the MinHash family, so this is its drop-in exact
    * counterpart wherever determinism beats probabilistic recall. The
    * hot path shuffles 8-byte gram HASHES, never gram strings: Jaccard
    * on the hash sets equals string-gram Jaccard up to 2^-64 collisions,
    * the documented equivalence the q_dedup_cross oracle relies on.
    */
  def prefixSimilarityJoinOnGrams(g: DataFrame, threshold: Double): DataFrame = {
    val toks = g.select(col("doc_id"), explode(col("grams")).as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK) // df counts + the sets join
      // both read it — one store explode, not two (q_containment's fix)
    val sets = raritySets(withDocFreq(toks), "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val prefix = sets.select(col("doc_id"), col("n"), prefixGrams(threshold))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "ph")
    // Candidate generation with the PPJoin length + positional filters
    // IN the join (Xiao et al., WWW'08), not after the distinct: on a
    // dup-heavy corpus a hot prefix hash shared by hundreds of documents
    // otherwise emits every cross pair into the distinct+verify stages
    // (measured on the 16x smoke: 49.6M surviving candidates -> 8.0M,
    // verify 45 s -> 8 s, identical output).
    //  - length: J >= t forces |A| >= t|B| and |B| >= t|A| (J <= min/max)
    //  - positional: a pair needs overlap alpha = ceil(t/(1+t)·(nA+nB));
    //    a match at 0-based rarity-positions (pA, pB) can still reach at
    //    most 1 + min(nA-pA-1, nB-pB-1) shared grams, because the sets
    //    share one global rarity order. For a qualifying pair the FIRST
    //    shared prefix gram satisfies this bound (its upper bound counts
    //    the true overlap), so at least one occurrence survives to the
    //    distinct — completeness holds; the law test pins it.
    //  - epsilon discipline as in prefixGrams: nudged products only
    //    ADMIT borderline candidates, never reject a qualifying one.
    val alpha = ceil((col("n_a") + col("n_b"))
      * lit(threshold / (1 + threshold)) - lit(1e-9))
    val cand = prefix.select(col("doc_id").as("doc_id_a"),
        col("n").as("n_a"), col("p").as("p_a"), col("ph"))
      .join(prefix.select(col("doc_id").as("doc_id_b"),
        col("n").as("n_b"), col("p").as("p_b"), col("ph")), "ph")
      .filter(col("doc_id_a") < col("doc_id_b"))
      .filter(col("n_a") >= col("n_b") * threshold - lit(1e-9) &&
        col("n_b") >= col("n_a") * threshold - lit(1e-9))
      .filter(lit(1) + least(col("n_a") - col("p_a") - 1,
        col("n_b") - col("p_b") - 1) >= alpha)
      .select("doc_id_a", "doc_id_b").distinct()
    val va = sets.select(col("doc_id").as("doc_id_a"), col("hs").as("hs_a"), col("n").as("n_a"))
    val vb = sets.select(col("doc_id").as("doc_id_b"), col("hs").as("hs_b"), col("n").as("n_b"))
    cand.join(va, "doc_id_a").join(vb, "doc_id_b")
      .withColumn("inter_cnt", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard",
        col("inter_cnt").cast(DoubleType) / (col("n_a") + col("n_b") - col("inter_cnt")))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "inter_cnt", "jaccard")
  }

  /** Cross-corpus (delta ⋈ base) near-dup pairs — the incremental shape a
    * corpus pipeline runs daily. Base side comes entirely from the
    * persisted signature store (no base re-tokenization); only the delta
    * half touches the documents table. Store values are deterministic, so
    * the output — and the DuckDB oracle — are identical to the
    * recompute-everything path.
    */
  def crossPairs(s: SparkSession, dir: String): DataFrame = {
    val base = ensureBaseSignatureStore(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    // delta half read from the gram store too (column-pruned, id-filtered)
    // — in the daily-delta deployment this is the delta batch's own
    // ingest-time gram table, never a corpus re-tokenize. NOT persisted:
    // since the signature store took over the band side, this frame has
    // exactly one consumer (the verify join's gb side)
    val delta = ensureGramStore(s, dir)
      .filter(col("doc_id") % 2 === 1)
    // delta bands from the one-time signature store too — in the
    // daily-delta deployment these are the batch's own ingest-time sigs
    val deltaSigs = ensureSignatureStore(s, dir).filter(col("doc_id") % 2 === 1)
    val cand = bandsFromSig(base).select(col("doc_id").as("doc_id_a"), col("band"), col("bh"))
      .join(bandsFromSig(deltaSigs).select(col("doc_id").as("doc_id_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select("doc_id_a", "doc_id_b").distinct()
    val ga = base.select(col("doc_id").as("doc_id_a"), col("grams").as("g_a"))
    val gb = delta.select(col("doc_id").as("doc_id_b"), col("grams").as("g_b"))
    cand.join(ga, "doc_id_a").join(gb, "doc_id_b")
      .withColumn("jaccard", jaccard(col("g_a"), col("g_b")))
      .filter(col("jaccard") >= 0.7)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  /** Min-label propagation connected components over an (a, b) edge
    * frame: every node converges to the smallest id reachable from it.
    * Each iteration is one shuffle join + partial-agg min; iterations
    * needed = graph diameter (near-dup components are stars/short chains,
    * so 2-4 in practice; maxIter bounds adversarial inputs — at true
    * 100-TB scale with long-chain graphs you'd switch to the
    * alternating small-star/large-star construction, which converges in
    * O(log n) rounds, but dedup graphs never look like that). The
    * driver-side loop holds only a changed-row COUNT per round, never
    * data.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // Partitioning follows the GRAPH, not the corpus: the near-dup pair
    // graph is a sliver of the input (~0.1% of docs at production dedup
    // rates), so inheriting the corpus partition count makes every
    // propagation round pay hundreds of near-empty tasks. One edge count
    // up front (the frame is about to be persisted anyway) sizes the
    // loop's parallelism to the data that actually moves.
    val sym0 = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = sym0.count()
    val spark = edges.sparkSession
    val nParts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (nEdges / 500000L).toInt + 1))
    // pre-partition on the probe key so every round's neighbor join reuses
    // the cached layout for the static side
    val sym = sym0.repartition(nParts, col("v")).persist(StorageLevel.MEMORY_AND_DISK)
    sym.count()
    sym0.unpersist()
    // labels cached hash-partitioned on node (same partition count as
    // sym's on v): the probe join and the label-update join are both
    // co-partitioned, so each round's only exchange is the groupBy(u)
    // Each round references the previous labels frame FOUR times (probe
    // join, update join, and the pointer-jump self-join), so the logical
    // plan would grow ~4^rounds and OOM the driver around round 10 —
    // caching does NOT stop logical-plan growth. localCheckpoint
    // materializes the round's result AND truncates the plan to a leaf:
    // constant-size plans at any round count (the standard idiom for
    // iterative DataFrame algorithms); superseded rounds' blocks are
    // reclaimed by the context cleaner once unreferenced.
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .repartition(nParts, col("node"))
      .localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // step 1 — neighbor min: the classic propagation move
      val nbrMin = sym.join(labels, sym("v") === labels("node"))
        .groupBy(col("u")).agg(min(col("label")).as("nbr_min"))
      val afterMin = labels.join(nbrMin, labels("node") === nbrMin("u"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("lbl"),
          (coalesce(col("nbr_min"), col("label")) < col("label")).cast("long").as("chg1"))
      // step 2 — pointer jumping (label := label of my label): squares the
      // propagation distance per round, so convergence is O(log diameter)
      // instead of O(diameter). Without it a long-chain component would
      // exhaust maxIter and return SILENTLY WRONG labels; with it 20
      // rounds cover any graph a dedup pipeline can produce (DedupSpec
      // pins a 300-node chain).
      val parents = afterMin.select(col("node").as("pn"), col("lbl").as("pl"))
      val updated = afterMin.join(parents, afterMin("lbl") === parents("pn"), "left")
        .select(col("node"),
          coalesce(col("pl"), col("lbl")).as("label"),
          (col("chg1") +
            (coalesce(col("pl"), col("lbl")) < col("lbl")).cast("long")).as("chg"))
        .repartition(nParts, col("node"))
        .localCheckpoint()
      changed = updated.agg(coalesce(sum(col("chg")), lit(0L))).head().getLong(0)
      labels = updated.select("node", "label")
      i += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds")
    // labels are localCheckpoint-backed, so the edge cache is dead weight
    sym.unpersist()
    labels
  }

  /** Min-id canonical set of the FULL-corpus near-dup graph: the banded
    * MinHash pair set (q_dedup_minhash's — the full self-join, NOT
    * crossPairs' base/delta parity split, which by construction never
    * links same-parity replicas) → connected components → one min-id
    * representative per cluster; singletons represent themselves. This is
    * the dedup-first front half of the containment mitigation the 64×
    * sweep measured (SCALE.md round-11: raw containment OOM-died on the
    * all-dup corpus; 320k docs collapsed to 4,756 canonicals in 132.5 s
    * and the same containment join then ran in 2.9 s). Output: a single
    * `doc_id` column, one row per cluster.
    */
  def nearDupCanonicals(s: SparkSession, dir: String): DataFrame = {
    val g = ensureGramStore(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    // bands from the one-time signature store (no per-run 64-perm fold)
    val bands = bandsFromSig(ensureSignatureStore(s, dir))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cand = bands.select(col("doc_id").as("doc_id_a"), col("band"), col("bh"))
      .join(bands.select(col("doc_id").as("doc_id_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b").distinct()
    val pairs = verifyJaccard(cand, g, 0.7)
      .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
    val labels = connectedComponents(pairs)
    // min-label propagation already converges every node to the min id in
    // its component, so the canonical of a cluster IS its label; the
    // groupBy-min spells the retention rule out (and the oracle mirrors it)
    Tables(s, dir, "documents").select("doc_id")
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .groupBy("cluster_id").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
  }

  /** One-time near-dup CANONICAL store (the gram/signature-store
    * convention): [[nearDupCanonicals]]' min-id keep set, computed once
    * per sf dir and read by every dedup-first consumer after. At 100 TB
    * the near-dup pass is an ingest/maintenance job — its keep set is
    * THE corpus view every downstream similarity/containment/packing
    * job starts from, so recomputing the banded self-join + CC inside
    * each query (6.7 s of q_containment_canonical's idle 8.3 s at
    * sf0.1; 132.5 s of the 64× run's 112–132 s) is exactly the
    * re-tokenize-per-query mistake the gram store retired. Content is a
    * deterministic function of `documents`, so every oracle is
    * unchanged; DedupSpec pins store == fresh computation.
    */
  def ensureCanonicalStore(s: SparkSession, dir: String): DataFrame =
    Sources.parquetStore(s, dir, "neardup_canon_v1")(nearDupCanonicals(s, dir))

  /** SimHash banded near-dedup over any (doc_id, text) frame. Pigeonhole
    * guarantee: two fingerprints at Hamming distance <= nBands - 1 agree
    * on at least one full band, so `maxHamming < nBands` makes recall
    * exact (no probabilistic miss). The tradeoff knob at scale: more
    * bands -> narrower bands -> bigger buckets (64/nBands bits ->
    * n/2^(64/nBands) docs per bucket) -> more candidates but a wider
    * guaranteed Hamming radius; the adaptive default keeps buckets sparse
    * and takes the largest radius the chosen band count guarantees.
    *
    * Persisted before the self-join: both band sides read the same
    * 16-byte-per-doc (doc_id, sig) table instead of re-tokenizing.
    * simhash64_fp is the native codegen expression (FunctionsSpec pins
    * bit-equality to the reference UDF in Hashing).
    */
  /** Corpus-size-adaptive SimHash band count: target sparse band buckets
    * (occupancy ~tens) so the banded self-join stays O(n). 8 bands of 8
    * bits = 256 buckets/band is right up to ~10k docs; 4 bands of 16 bits
    * = 65k buckets beyond. The floor is 4 — NOT 2 — because
    * Lsh.explodeBands caps band width at 16 bits by design (wider bands
    * trade too much recall; its scaladoc says so explicitly), so a
    * 2-band/32-bit tier would throw the moment a corpus crossed 2M docs.
    * Past ~2M docs per shard you keep 4×16 banding and shard by a cheap
    * partition key (language, length bucket) — which also regrows the
    * pigeonhole-guaranteed radius (maxHamming = nBands - 1).
    */
  def simhashBandsFor(nDocs: Long): Int =
    if (nDocs <= 10000L) 8 else 4

  /** nBands = 0 (default) sizes the banding from the corpus via
    * [[simhashBandsFor]] — counted on the persisted 16-byte fingerprint
    * frame, not a second corpus scan. maxHamming = -1 (default) takes the
    * full pigeonhole-guaranteed radius for the chosen band count, capped
    * at the historical 6 so the 8-band small-corpus behavior is unchanged.
    */
  def simhashNearDup(docs: DataFrame, nBands: Int = 0, maxHamming: Int = -1): DataFrame =
    simhashNearDupOnFps(
      simhashFps(docs).persist(StorageLevel.MEMORY_AND_DISK), nBands, maxHamming)

  /** THE SimHash fingerprint definition over any (doc_id, text) frame —
    * ONE definition shared by the fingerprint-store build and any ad-hoc
    * frame (the gram-store discipline). simhash64_fp is the native
    * codegen expression (FunctionsSpec pins bit-equality to the
    * reference UDF in Hashing).
    */
  def simhashFps(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(norm(col("text")), " "))
      .filter(size(col("toks")) > 0)
      .withColumn("sig", call_function("simhash64_fp", col("toks")))
      .select("doc_id", "sig")

  /** One-time SimHash fingerprint store: (doc_id, sig) — 16 B/doc. Same
    * amortization as the MinHash signature store: q_dedup_simhash's
    * per-query cost is dominated by the corpus tokenize (norm + split
    * over every byte), which a production pipeline pays once at ingest;
    * the banded Hamming search then runs entirely off this compact
    * table. Content is a deterministic function of `documents`, so the
    * oracle-facing output is unchanged; DedupSpec pins store == fresh
    * fingerprints bit-identically.
    */
  def ensureSimhashStore(s: SparkSession, dir: String): DataFrame =
    Sources.parquetStore(s, dir, "simhash_fp_v1")(simhashFps(Tables(s, dir, "documents")))

  /** Banded Hamming near-dup over a PERSISTED (doc_id, sig) fingerprint
    * frame (the caller persists: the frame feeds the band-count sizing
    * count and both sides of the band self-join).
    */
  def simhashNearDupOnFps(d: DataFrame, nBands: Int = 0, maxHamming: Int = -1): DataFrame = {
    val bandCount = if (nBands > 0) nBands else simhashBandsFor(d.count())
    val hamMax = if (maxHamming >= 0) maxHamming else math.min(6, bandCount - 1)
    require(64 % bandCount == 0, s"band count must divide 64, got $bandCount")
    require(hamMax < bandCount,
      s"pigeonhole recall guarantee needs maxHamming < nBands ($hamMax >= $bandCount)")
    val bands = Lsh.explodeBands(d, "sig", 64 / bandCount)
    val l = bands.select(col("doc_id").as("doc_id_a"), col("sig").as("sig_a"), col("band"), col("bv"))
    val r = bands.select(col("doc_id").as("doc_id_b"), col("sig").as("sig_b"), col("band"), col("bv"))
    l.join(r, Seq("band", "bv"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        expr("bit_count(sig_a ^ sig_b)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= hamMax)
  }

  /** Hyperplane-coded, pruned, PERSISTED view of an embeddings frame: the
    * shared first stage of the embedding dedup family. One input scan
    * serves the corpus count, both band sides of the candidate join, and
    * (in [[embeddingNearDup]]) the final left-join id list.
    */
  def codedEmbeddings(embeddings: DataFrame): DataFrame =
    embeddings
      .select("vec_id", "embedding") // prune before persist: don't cache unused columns
      .withColumn("code", call_function("hyperplane_bits", col("embedding")))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** LSH candidate pairs (vid, nid, cos) over a [[codedEmbeddings]] frame:
    * banded equi-join on the 64-bit hyperplane code (band width adaptive
    * to corpus size — Lsh.bandBits), exact cosine on candidates only.
    * SET-valued (every colliding pair, not nearest-only) — the sound
    * building block for both the nearest-neighbor report and the planted
    * recall proof, where a rank-1 pick could be displaced by an organic
    * exact duplicate.
    */
  def embeddingCandidates(e: DataFrame): DataFrame = {
    // corpus-size-adaptive band width: bucket size (not bucket count) is
    // what bounds the candidate join at scale; the count() runs against
    // the frame just persisted.
    // Band join carries IDS ONLY (the q_dedup_minhash discipline): the
    // 64-float embedding must not ride the band shuffle once per band,
    // and a pair colliding on k bands should pay ONE cosine, not k —
    // so collisions dedup to distinct id pairs first and the embeddings
    // join back from the persisted frame for a single verify per pair.
    val bands = Lsh.explodeBands(e.select("vec_id", "code"), "code",
      Lsh.bandBits(e.count()))
    val pairs = bands.select(col("vec_id").as("vid"), col("band"), col("bv"))
      .join(bands.select(col("vec_id").as("nid"), col("band"), col("bv")),
        Seq("band", "bv"))
      .filter(col("vid") =!= col("nid"))
      .select("vid", "nid").distinct()
    pairs
      .join(e.select(col("vec_id").as("vid"), col("embedding").as("emb_a")), "vid")
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("emb_b")), "nid")
      .select(col("vid"), col("nid"),
        call_function("cosine_sim", col("emb_a"), col("emb_b")).as("cos"))
  }

  /** Core embedding near-dup pipeline over any (vec_id, embedding) frame —
    * factored out so specs can run it over fixtures with planted dups.
    * Native codegen hyperplane_bits (plane matrix precomputed per JVM, no
    * UDF boxing); persisted so the count, both band sides, and the final
    * left-join id list come from one scan of the input.
    */
  def embeddingNearDup(embeddings: DataFrame, dupThreshold: Double = 0.95): DataFrame = {
    val e = codedEmbeddings(embeddings)
    val cand = embeddingCandidates(e)
    val best = cand
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vid")
          .orderBy(col("cos").desc, col("nid"))))
      .filter(col("rn") === 1)
      .select(col("vid"), col("nid").as("nn_id"), col("cos").as("nn_cos"))
    e.select(col("vec_id"))
      .join(best, col("vec_id") === col("vid"), "left")
      .select(col("vec_id"), col("nn_id"), col("nn_cos"),
        coalesce(col("nn_cos") >= dupThreshold, lit(false)).as("is_dup"))
  }

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(norm_text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM (SELECT doc_id,
                 trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text
               FROM documents)
         GROUP BY norm_text""",

    // Exact cross-parity pair set: J >= 0.7 requires gram-set sizes within
    // a 0.7 ratio (|A∩B| <= min, |A∪B| >= max => J <= min/max), so the
    // size prefilter is a sound necessary condition that keeps the DuckDB
    // cross join tractable. Jaccard on hashed gram sets (Spark side) equals
    // string-gram jaccard up to 2^-64 collisions.
    "q_dedup_cross" ->
      """WITH d AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
           FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                 FROM documents)
           WHERE len(w) >= 3)
         SELECT doc_id_a, doc_id_b, jaccard FROM (
           SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
               / len(list_distinct(list_concat(a.g, b.g))) AS jaccard
           FROM d a JOIN d b
             ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
            AND len(a.g) * 10 >= len(b.g) * 7
            AND len(b.g) * 10 >= len(a.g) * 7)
         WHERE jaccard >= 0.7""",

    // Same pair set as q_dedup_cross, then a recursive-CTE transitive
    // closure: each node's cluster is the min id it can reach.
    "q_dedup_clusters" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
           FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                 FROM documents)
           WHERE len(w) >= 3),
         pairs AS (
           SELECT doc_id_a, doc_id_b FROM (
             SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.g, b.g))) AS jaccard
             FROM d a JOIN d b
               ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
              AND len(a.g) * 10 >= len(b.g) * 7
              AND len(b.g) * 10 >= len(a.g) * 7)
           WHERE jaccard >= 0.7),
         edges AS (SELECT doc_id_a AS u, doc_id_b AS v FROM pairs
                   UNION ALL SELECT doc_id_b, doc_id_a FROM pairs),
         closure(node, r) AS (
           SELECT u, u FROM edges
           UNION
           SELECT c.node, e.v FROM closure c JOIN edges e ON e.u = c.r),
         labs AS (SELECT node, min(r) AS cluster_id FROM closure GROUP BY node)
         SELECT doc.doc_id,
           coalesce(l.cluster_id, doc.doc_id) AS cluster_id,
           CAST(doc.doc_id = coalesce(l.cluster_id, doc.doc_id) AS BIGINT) AS is_canonical
         FROM documents doc LEFT JOIN labs l ON l.node = doc.doc_id""",

    // same recursive-CTE closure as q_dedup_clusters + keep-longest
    // arg-max on the identical packed quality key
    "q_cluster_canonical" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
           FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                 FROM documents)
           WHERE len(w) >= 3),
         pairs AS (
           SELECT doc_id_a, doc_id_b FROM (
             SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.g, b.g))) AS jaccard
             FROM d a JOIN d b
               ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
              AND len(a.g) * 10 >= len(b.g) * 7
              AND len(b.g) * 10 >= len(a.g) * 7)
           WHERE jaccard >= 0.7),
         edges AS (SELECT doc_id_a AS u, doc_id_b AS v FROM pairs
                   UNION ALL SELECT doc_id_b, doc_id_a FROM pairs),
         closure(node, r) AS (
           SELECT u, u FROM edges
           UNION
           SELECT c.node, e.v FROM closure c JOIN edges e ON e.u = c.r),
         labs AS (SELECT node, min(r) AS cluster_id FROM closure GROUP BY node),
         toks AS (SELECT doc_id,
             CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
           FROM documents),
         labeled AS (
           SELECT t.doc_id, coalesce(l.cluster_id, t.doc_id) AS cluster_id, t.n_tok
           FROM toks t LEFT JOIN labs l ON l.node = t.doc_id),
         -- DuckDB's max_by takes only scalar orderings, so the tuple key
         -- (n_tok DESC, doc_id ASC) is expressed as a rank-1 window here;
         -- same total order as Spark's max_by(doc_id, struct(n_tok, -doc_id))
         canon AS (
           SELECT cluster_id, doc_id AS canonical_id FROM (
             SELECT cluster_id, doc_id,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY n_tok DESC, doc_id) AS rn
             FROM labeled) WHERE rn = 1)
         SELECT lb.doc_id, lb.cluster_id, lb.n_tok, c.canonical_id,
           CAST(lb.doc_id = c.canonical_id AS BIGINT) AS keep
         FROM labeled lb JOIN canon c USING (cluster_id)""",

    // brute-force containment with only the one-sided size prefilter —
    // provably the same pair set the prefix-filtered join returns
    "q_containment" ->
      """WITH d AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
           FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                 FROM documents)
           WHERE len(w) >= 3)
         SELECT a.doc_id, b.doc_id AS container,
           CAST(len(a.g) AS INTEGER) AS n_grams,
           CAST(len(list_intersect(a.g, b.g)) AS INTEGER) AS inter_cnt,
           CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g)
             AS containment
         FROM d a JOIN d b
           ON a.doc_id % 3 = 0 AND a.doc_id <> b.doc_id
          AND len(b.g) >= 0.8 * len(a.g) - 1e-9
         WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g) >= 0.8""",

    // q_dedup_minhash's exact full pair set (banded == brute force at this
    // data — see that oracle's recall argument) -> the q_dedup_clusters
    // recursive-CTE closure -> min-id canonicals -> q_containment's
    // brute-force probe against the canonical-only container slice
    "q_containment_canonical" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
           FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                 FROM documents)
           WHERE len(w) >= 3),
         s AS (SELECT doc_id, g, len(g) AS n FROM d),
         pairs AS (
           SELECT doc_id_a, doc_id_b FROM (
             SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                 / (a.n + b.n - len(list_intersect(a.g, b.g))) AS jaccard
             FROM s a JOIN s b ON a.doc_id < b.doc_id
               AND a.n * 10 >= b.n * 7 AND b.n * 10 >= a.n * 7)
           WHERE jaccard >= 0.7),
         edges AS (SELECT doc_id_a AS u, doc_id_b AS v FROM pairs
                   UNION ALL SELECT doc_id_b, doc_id_a FROM pairs),
         closure(node, r) AS (
           SELECT u, u FROM edges
           UNION
           SELECT c.node, e.v FROM closure c JOIN edges e ON e.u = c.r),
         labs AS (SELECT node, min(r) AS cluster_id FROM closure GROUP BY node),
         canon AS (
           SELECT min(doc_id) AS doc_id FROM (
             SELECT doc.doc_id, coalesce(l.cluster_id, doc.doc_id) AS cluster_id
             FROM documents doc LEFT JOIN labs l ON l.node = doc.doc_id)
           GROUP BY cluster_id),
         dc AS (SELECT d.doc_id, d.g FROM d JOIN canon USING (doc_id))
         SELECT a.doc_id, b.doc_id AS container,
           CAST(len(a.g) AS INTEGER) AS n_grams,
           CAST(len(list_intersect(a.g, b.g)) AS INTEGER) AS inter_cnt,
           CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g)
             AS containment
         FROM d a JOIN dc b
           ON a.doc_id % 3 = 0 AND a.doc_id <> b.doc_id
          AND len(b.g) >= 0.8 * len(a.g) - 1e-9
         WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g) >= 0.8""",

    "q_jaro_names" ->
      """WITH w AS (SELECT DISTINCT p_name FROM part)
         SELECT a.p_name AS name_a, b.p_name AS name_b,
           round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
         FROM w a JOIN w b
           ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
          AND a.p_name < b.p_name
         WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.88""",

    "q_fuzzy_join" ->
      """SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
         FROM customer a JOIN customer b
           ON length(a.c_name) = length(b.c_name)
          AND substring(a.c_name, 1, length(a.c_name) - 2)
              = substring(b.c_name, 1, length(b.c_name) - 2)
          AND a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 1""",

    // The MinHash pipeline's output IS the exact near-dup pair set at
    // this data: every fixture pair at J >= 0.7 actually sits at J >= 0.9
    // where 16-bands-of-4 recall is 1 - (1 - J^4)^16 > 1 - 4e-8, and the
    // banding is deterministic, so the banded+verified result equals the
    // brute-force join — VERIFIED bit-identical (pairs AND jaccard) at
    // sf0.01 and sf0.1. Any future recall loss surfaces as a driver FAIL,
    // which is exactly the driver-visible recall signal the round-4
    // verdict asked for.
    "q_dedup_minhash" ->
      """WITH d AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
           FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                 FROM documents)
           WHERE len(w) >= 3),
         s AS (SELECT doc_id, g, len(g) AS n FROM d)
         SELECT doc_id_a, doc_id_b, jaccard FROM (
           SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
               / (a.n + b.n - len(list_intersect(a.g, b.g))) AS jaccard
           FROM s a JOIN s b ON a.doc_id < b.doc_id
             AND a.n * 10 >= b.n * 7 AND b.n * 10 >= a.n * 7)
         WHERE jaccard >= 0.7""",

    // recovery of every planted verbatim copy is structurally guaranteed
    // (identical fingerprint agrees on every band), so the plant
    // predicate is the exact expected output
    // text IS NOT NULL mirrors the pipeline's tokenize filter: a NULL
    // text tokenizes to nothing on the Spark side, so neither the
    // original nor its plant can band — without the guard a fixture
    // regeneration introducing one NULL row would turn into a spurious
    // recall FAIL rather than a data observation
    "q_dedup_simhash_recall" ->
      """SELECT doc_id AS doc_id_a, doc_id + 1000000000 AS doc_id_b,
           CAST(0 AS INTEGER) AS hamming
         FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL""",

    // recovery of every planted verbatim vector copy is structurally
    // guaranteed (identical hyperplane code collides on every band;
    // cosine ~ 1.0 passes any sane threshold), so the plant predicate is
    // the exact expected output
    // same guard as the simhash recall: a NULL embedding can't code/band
    "q_dedup_embedding_recall" ->
      """SELECT vec_id AS vec_id_a, vec_id + 1000000000 AS vec_id_b
         FROM embeddings WHERE vec_id % 10 = 0 AND embedding IS NOT NULL""",

    // Brute-force quadratic pair join with the sound size prefilter
    // (J >= 0.7 forces gram-set sizes within a 0.7 ratio): what the
    // Spark side provably equals via the prefix-filter lemma.
    "q_simjoin_prefix" ->
      """WITH d AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
           FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                 FROM documents)
           WHERE len(w) >= 3),
         s AS (SELECT doc_id, g, len(g) AS n FROM d)
         SELECT doc_id_a, doc_id_b, inter_cnt, jaccard FROM (
           SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             CAST(len(list_intersect(a.g, b.g)) AS INTEGER) AS inter_cnt,
             CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
               / (a.n + b.n - len(list_intersect(a.g, b.g))) AS jaccard
           FROM s a JOIN s b ON a.doc_id < b.doc_id
             AND a.n * 10 >= b.n * 7 AND b.n * 10 >= a.n * 7)
         WHERE jaccard >= 0.7""",

    "q_ngram_jaccard" ->
      """WITH d AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
           FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                 FROM documents)
           WHERE len(w) >= 3)
         SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(len(list_intersect(a.g, b.g)) AS INTEGER) AS inter_cnt,
           CAST(len(list_distinct(list_concat(a.g, b.g))) AS INTEGER) AS union_cnt,
           CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / len(list_distinct(list_concat(a.g, b.g))) AS jaccard
         FROM d a JOIN d b ON b.doc_id = a.doc_id + 1""",

    // the bloom stage is result-transparent (exact verify behind it), so
    // the oracle is the plain membership classification
    "q_dedup_bloom" ->
      """WITH delta AS (
           SELECT doc_id + 1000000 AS doc_id, text FROM documents
           WHERE doc_id % 13 = 0
           UNION ALL
           SELECT doc_id + 2000000 AS doc_id, text || ' extra' AS text
           FROM documents WHERE doc_id % 17 = 0),
         basefp AS (SELECT md5(text) AS fp FROM documents),
         d2 AS (SELECT doc_id, md5(text) AS fp FROM delta)
         SELECT CASE WHEN fp IN (SELECT fp FROM basefp)
                  THEN 'dup' ELSE 'new' END AS status,
           count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM d2 GROUP BY 1""",

    // Same dim-ordered double fold as q_ann_bruteforce (proven
    // hash-parity with the native cosine_sim expression); seeds,
    // nearest-seed assignment, and the keep-lower-centroid-cos rule are
    // all deterministic, so the full decision set reproduces exactly.
    "q_dedup_semantic" ->
      s"""WITH s AS (
           SELECT vec_id AS seed_id, embedding AS s_emb FROM embeddings
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT greatest(8, (SELECT count(*) // 128 FROM embeddings))),
         scored AS (
           SELECT e.vec_id, e.embedding, s.seed_id,
             ${cosFold("e.embedding", "s.s_emb")} AS ccos
           FROM embeddings e CROSS JOIN s),
         asg AS (
           SELECT vec_id, embedding, seed_id, ccos FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY ccos DESC, seed_id) AS rn
             FROM scored) WHERE rn = 1),
         rm AS (
           SELECT DISTINCT x.vec_id FROM asg x JOIN asg y
             ON x.seed_id = y.seed_id
            AND (y.ccos < x.ccos
                 OR (y.ccos = x.ccos AND y.vec_id < x.vec_id))
            AND ${cosFold("x.embedding", "y.embedding")} >= 0.4)
         SELECT a.vec_id, a.seed_id AS cluster_id, a.ccos AS centroid_cos,
           CAST(CASE WHEN rm.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_kept
         FROM asg a LEFT JOIN rm ON rm.vec_id = a.vec_id""",

    "q_dedup_semantic_recall" ->
      s"""WITH s AS (
           SELECT vec_id AS seed_id, embedding AS s_emb FROM embeddings
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT greatest(8, (SELECT count(*) // 128 FROM embeddings))),
         scored AS (
           SELECT e.vec_id, e.embedding, s.seed_id,
             ${cosFold("e.embedding", "s.s_emb")} AS ccos
           FROM embeddings e CROSS JOIN s),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY ccos DESC, seed_id) AS rn
           FROM scored),
         r1 AS (SELECT vec_id, embedding, seed_id AS cl1 FROM ranked WHERE rn = 1),
         r2 AS (SELECT vec_id, seed_id AS cl2 FROM ranked WHERE rn = 2),
         r3 AS (SELECT vec_id, seed_id AS cl3 FROM ranked WHERE rn = 3),
         asg AS (SELECT r1.vec_id, r1.embedding, r1.cl1, r2.cl2, r3.cl3
                 FROM r1 JOIN r2 USING (vec_id) JOIN r3 USING (vec_id)),
         pairs AS (
           SELECT CASE WHEN a.cl1 = b.cl1 THEN 1 ELSE 0 END AS detected,
             CASE WHEN a.cl1 = b.cl1 OR a.cl2 = b.cl1 OR a.cl1 = b.cl2
               THEN 1 ELSE 0 END AS detected_mp,
             CASE WHEN a.cl1 = b.cl1 OR a.cl2 = b.cl1 OR a.cl1 = b.cl2
                    OR a.cl3 = b.cl1 OR a.cl1 = b.cl3
               THEN 1 ELSE 0 END AS detected_mp3
           FROM asg a JOIN asg b ON a.vec_id < b.vec_id
           WHERE ${cosFold("a.embedding", "b.embedding")} >= 0.4)
         SELECT count(*) AS n_true_pairs,
           CAST(sum(detected) AS BIGINT) AS n_detected,
           CAST(sum(detected) AS DOUBLE) / count(*) AS recall,
           CAST(sum(detected_mp) AS BIGINT) AS n_detected_mp,
           CAST(sum(detected_mp) AS DOUBLE) / count(*) AS recall_mp2,
           CAST(sum(detected_mp3) AS BIGINT) AS n_detected_mp3,
           CAST(sum(detected_mp3) AS DOUBLE) / count(*) AS recall_mp3
         FROM pairs"""
  )

  /** The q_ann_bruteforce cosine fold (dim-ordered, all-double) as a SQL
    * fragment — one definition, inlined wherever an oracle needs cosine.
    */
  private[graft] def cosFold(a: String, b: String): String =
    s"""(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(1, len($a) + 1),
            i -> CAST($a[i] AS DOUBLE) * $b[i])), (acc, x) -> acc + x)
        / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform($a, x -> CAST(x AS DOUBLE) * x)),
             (acc, x) -> acc + x))
           * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform($b, x -> CAST(x AS DOUBLE) * x)),
               (acc, x) -> acc + x))))"""
}
