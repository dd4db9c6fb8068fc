package graft

/** Scale smoke test: replicates the sf0.1 fixtures 16x (documents,
  * embeddings) / 8x (lineitem, orders, events) into a /tmp dataset with
  * [[Sf1Build.replicate]], builds [[Bench.runSetup]]'s stores there and
  * runs the scale-sensitive query families against it, printing per-query
  * seconds. The point is trend, not absolutes: a query whose cost grows
  * ~16x on 16x data is scale-shaped; one that grows ~256x is hiding an
  * all-pairs or a driver bottleneck. Results recorded in SCALE.md.
  *
  * Replicas are PERTURBED near-dups (one extra token per replica, 1e-4
  * embedding shift), so the scaled corpus is dup-HEAVY: every document
  * sits in a 16-clique of near-duplicates — the worst realistic regime
  * for the dedup family (web crawls routinely carry >30% duplication),
  * and a direct stress of banding bucket occupancy and the
  * connected-components loop (80k nodes / ~600k near-dup edges).
  */
object ScaleSmoke {

  // growth factor for the corpus tables (facts replicate at factor/2):
  // 16 is the standard per-round trend check; SPARK_GRAFT_SCALE=64 runs
  // the scale-sensitive tail at 64x/32x into its own /tmp root (the
  // 128 GiB sandbox fits one such pass — SCALE.md round-11).
  // Parsed/validated in main() (round-11 ADVICE: a static-initializer
  // require surfaces as ExceptionInInitializerError wrapping the real
  // message); lazy so the fields still resolve afterward.
  private lazy val factor = parseFactor()
  private def parseFactor(): Int = {
    val f = sys.env.getOrElse("SPARK_GRAFT_SCALE", "16").toInt
    require(f >= 2 && f % 2 == 0,
      s"SPARK_GRAFT_SCALE=$f: must be an even int >= 2 (facts " +
        "replicate at factor/2; an odd or <2 value would silently halve " +
        "or empty.reduce-crash the fact-table replication)")
    // replica doc_ids stride by 1e7, and the recall fixtures /
    // q_dedup_media plant copies at doc_id + 1e9: factor >= 100 would
    // push replica ids into the planted-copy range and collide
    require(f < 100,
      s"SPARK_GRAFT_SCALE=$f: must be < 100 (replica ids stride 1e7; at " +
        ">= 100 they reach 1e9 and collide with the +1e9 planted-copy " +
        "id convention used by q_dedup_media and the recall fixtures)")
    f
  }
  private lazy val factFactor = factor / 2

  // versioned: bump when the replication scheme changes so stale /tmp
  // copies rebuild instead of skewing the measurements
  private lazy val root =
    if (factor == 16) s"${System.getProperty("java.io.tmpdir")}/graft_scale_v3"
    else s"${System.getProperty("java.io.tmpdir")}/graft_scale${factor}_v2"

  def main(args: Array[String]): Unit = {
    val _ = factor // force the env parse/require before any Spark setup
    val src = "/root/testdata/sf0.1"
    val spark = GraftSession.local("graft-scale-smoke", 32)
    Sf1Build.replicate(spark, src, root, factor, factFactor)
    // the one store list: ingest, not measured
    Bench.runSetup(spark, root)

    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q1_agg", "q_join_inner", "q_wordcount", "q_tf_df", "q_decontaminate",
      "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
      "q_dedup_embedding", "q_ann_lsh", "q_dedup_cross", "q_dedup_clusters",
      "q_simjoin_prefix",
      "q_tpch_q6", "q_tpch_q7", "q_tpch_q8", "q_tpch_q13", "q_tpch_q14",
      "q_tpch_q15", "q_weighted_sample", "q_lateral_topk", "q_hybrid_rrf",
      // behavioral-mining family: assoc_rules is the pair-explosion risk
      // (8x lineitem), funnel/rfm ride the scaled fact shuffles, the
      // map-only entropy/repetition pair must grow ~linearly, jaro rides
      // the (unscaled) name dictionary so it must stay flat
      "q_assoc_rules", "q_funnel_steps", "q_rfm", "q_char_entropy",
      "q_repetition", "q_jaro_names", "q_acf", "q_gini", "q_benford",
      "q_degree_dist", "q_containment", "q_survival_km", "q_attribution",
      // round-12: the dedup-first composition must COMPLETE in the
      // all-dup regime where raw q_containment OOM-died at 64x
      // (SCALE.md round-11) — run it right after the raw form so the
      // contrast is visible in the same sweep
      "q_containment_canonical",
      // round-12: its ingest twin — per-batch cost must ride batch grams
      // + the compact post-dedup index
      "q_stream_containment",
      "q_bootstrap_ci", "q_psi", "q_trend_robust", "q_ndcg",
      "q_markov_stationary", "q_expectations",
      // round-7 additions: banded prefix-sum ranks must grow ~linearly
      // (the single-task sort they replaced would serialize here), the
      // synthesized-partsupp TPC-H queries ride the 8x fact
      "q_auc", "q_lorenz", "q_ks_2samp",
      "q_tpch_q4", "q_tpch_q9", "q_tpch_q12", "q_tpch_q20", "q_tpch_q22",
      // span-hash shuffle over the 16x dup-heavy corpus: the worst-case
      // input (every doc in a 16-clique of near-identical replicas,
      // so dup spans dominate) must still grow ~linearly in total spans
      "q_span_dedup", "q_span_dedup_cross", "q_span_intervals",
      // round-8: multimodal at 16x payload bytes — decode/resize must be
      // map-only linear (zero shuffles, pinned in PlanShapeSpec), binary
      // rides the (unscaled-schema) media store, catalog must stay
      // payload-pruned metadata-speed regardless of blob volume
      "q_multimodal_features", "q_multimodal_resize",
      "q_multimodal_binary", "q_multimodal_catalog",
      // round-8: streaming ingest against the 16x/8x corpus — per-batch
      // cost vs base-store size is the 100-TB claim (neardup filter
      // probes the 16x-bigger signature store per delta batch; upsert
      // folds 8x events through batchId-keyed merges)
      "q_stream_neardup_filter", "q_stream_upsert",
      // round-13: the GROWING doors — per-batch cost must ride the batch
      // + the compact grow store (base sigs + earlier survivors), and
      // stay in the frozen doors' cost class (the appends are
      // survivor-sized parquet writes, not corpus work)
      "q_stream_neardup_grow", "q_stream_media_grow",
      "q_stream_span_grow", "q_stream_exactdup_grow",
      // round-8: banded vocab ranks (the 16x dup-heavy corpus keeps the
      // type table near 1x size but the token stream grows 16x — the
      // count shuffle dominates, the banded rank must stay flat) and the
      // skew-safe domain cap (heap partials vs the per-source window)
      "q_zipf", "q_encode_ids", "q_domain_cap", "q_domain_cap_heap",
      "q_stream_span_dedup",
      // round-8: SemDeDup at 16x vectors — adaptive k (n/128 seeds)
      // must keep assignment a broadcast map pass and the pairwise
      // stage ~n*128/2 comparisons (fixed k would go quadratic here);
      // the streaming twin's per-batch cost rides batch*k + the
      // cluster-keyed base join, not base size
      "q_dedup_semantic", "q_stream_semantic_filter",
      // round-12: the door's selectable recall levers — the ×3 rung
      // pays one more broadcast pass on the delta, the band-union mode
      // adds the batch-side code/band explode + collision verify; both
      // must track the 2-probe door's growth
      "q_stream_semantic_filter_p3", "q_stream_semantic_union",
      // trending grid merge: per-batch cost must ride batch + grid
      // width, not the 8x event volume
      "q_stream_topk",
      // round-8 capstone: the Gopher battery is a scan-rate map (must
      // grow ~linearly), span masking rides total spans, and the
      // composed pipeline must track the sum of its stages — the
      // dup-heavy 16x corpus makes the dedup + masking stages cut hard
      "q_gopher_rules", "q_span_mask", "q_pipeline_llm",
      // DSIR: the model build is the one token-stream shuffle (must ride
      // total bigrams); scoring is map-side; the 16x dup-heavy corpus
      // keeps the bucket tables at the fixed 1024 width
      "q_dsir",
      // ingest-time DSIR: per-batch cost must ride batch bigrams; the
      // base enters only through the fixed 1024-row model store
      "q_stream_dsir",
      // banded-rank shard shuffle must ride the corpus linearly (the
      // offsets fold is <=1024 rows at any size); triplet mining is
      // fixed-K x n — the anchor set must NOT grow with the corpus
      "q_corpus_shuffle", "q_triplet_mine",
      // temperature mixing: one stats agg + broadcast rates + map keep —
      // must ride the corpus linearly with a source-bounded rate table
      "q_mixture_temperature",
      // ccnet terciles ride the perplexity build (bigram-key shuffle);
      // the cutpoint agg + bucket pass add only broadcast work
      "q_ccnet_buckets",
      // ingest-time gopher gating: stateless per-batch map — per-batch
      // cost must ride batch tokens only
      "q_stream_quality",
      // round-14: structured-PII battery — per-row codegen regexes, so
      // both the batch form and its door must grow ~linearly in corpus
      // bytes with zero pre-filter shuffles
      "q_pii_redact", "q_stream_pii_redact",
      // round-14: the repetition battery is ONE zero-shuffle projection
      // (sorted-array RLE folds, PlanShapeSpec pin) — cost must ride
      // corpus bytes linearly like the word battery; the composed
      // curation chain fuses all three batteries into the same shape
      "q_repetition_signals", "q_corpus_clean",
      // round-14: trigram lang-id — (doc_id, tg)-keyed aggs with
      // doc-partitioned rank windows and a broadcast profile store;
      // cost must ride corpus trigrams, never langs × corpus
      "q_lang_id_trigram",
      // round-14: the lang-routing door rides the same scoring per
      // batch (fixed langs×K broadcast store); the masked pack adds
      // the interval aggregate to the q_span_intervals span shuffle it
      // shares, then the banded prefix sum — both must grow ~linearly
      // in corpus spans/trigrams, and the dup-heavy corpus makes the
      // masked pack's shard CUT visible at scale
      "q_stream_lang_filter", "q_pack_masked",
      // round-9: the bounded exact-quantile walk replaced corpus-grain
      // `percentile` buffers — cost must ride the scans (histogram
      // passes), with driver state fixed at groups×8192 whatever the
      // corpus; outlier_mad runs the GROUPED walk twice
      "q_equidepth", "q_winsorize", "q_outlier_mad",
      // round-9: segment dedup keyed on 8-byte chunk ids — the 16x
      // dup-heavy corpus is the worst case (every segment in a
      // 16-clique), and the freq/join shuffles must carry longs, with
      // ONE tokenize feeding both sides
      "q_line_dedup",
      // round-9: LM scoring rides the persisted store (fit once at
      // ingest, here under the store-build section above) — the scoring
      // pass must grow with the token stream, never re-fit the LM
      "q_perplexity", "q_bigram_lm",
      // round-9: BPE training — the corpus pass is ONE word count; the
      // 16x dup-heavy corpus keeps the vocab near 1x (replicas add one
      // token each), so the 5 merge rounds must stay near-flat
      "q_bpe_train",
      // round-9: ingest-time CCNet gate — per-batch cost must ride batch
      // tokens + the vocabulary-bounded LM probe joins; the base LM and
      // its cutpoint are ingest-time artifacts (built in setup)
      "q_stream_ppl_filter",
      // round-9: banded token prefix sum (packing) must ride the corpus
      // linearly; the vocab slice rides the near-1x vocabulary like
      // q_bpe_train
      "q_pack_sequences", "q_bpe_vocab",
      // round-10: the loader-facing segment emission — the straggler
      // explode adds n_docs + total_tokens/2048 rows, linear like the
      // prefix sum it extends; bpe encode must be one tokenize + the
      // vocabulary-bounded store join (training amortized into setup)
      "q_pack_emit", "q_bpe_encode",
      // round-11 capstone: clean -> dedup -> encode (stored tokenizer)
      // -> pack token IDS -> emit id slices; must track the sum of its
      // stages (battery scan + vocab-bounded encode join + banded
      // prefix sum), with the id payload riding ONE hash shuffle
      "q_pipeline_pretrain",
      // round-12: the pretraining ingest door — per-batch cost must ride
      // batch tokens + the vocabulary-bounded encode joins; the base
      // enters only through the fingerprint store and the once-built
      // symtab (built in the stream setup, not per batch)
      "q_stream_pretrain",
      // round-11: cross-modal dedup — decode is a scan-rate map, the
      // band join's candidate volume bounded by the adaptive band
      // width; must grow ~linearly in assets
      "q_dedup_media")
    names.foreach { name =>
      val (dt, ok) = Bench.runQuery(spark, root, name)(Bench.noop)
      println(if (ok) f"[scale] $name: $dt%.2f s" else s"[scale] $name FAILED")
    }
    spark.stop()
  }
}
