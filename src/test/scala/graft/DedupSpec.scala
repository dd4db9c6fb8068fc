package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Near-dedup quality gates at sf0.001: the fixture plants ~28 doc pairs
  * with 3-gram Jaccard ~0.99 (verified by the brute-force pass below).
  * MinHash/LSH must recover them (recall) without false positives after
  * exact verification (precision = 1 by construction).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force ground truth: all pairs with exact 3-gram Jaccard >= t. */
  private def bruteforcePairs(threshold: Double): Set[(Long, Long)] =
    bruteforcePairsOf(Tables(spark, sf0001, "documents"), threshold)

  private def bruteforcePairsOf(docs: org.apache.spark.sql.DataFrame,
      threshold: Double): Set[(Long, Long)] = {
    val d = docs
      .withColumn("w", split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "))
      .filter(size(col("w")) >= 3)
      .withColumn("g", array_distinct(expr(
        "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")))
      .select("doc_id", "g")
    val a = d.select(col("doc_id").as("ida"), col("g").as("ga"))
    val b = d.select(col("doc_id").as("idb"), col("g").as("gb"))
    a.crossJoin(b).filter(col("ida") < col("idb"))
      .withColumn("j", size(array_intersect(col("ga"), col("gb")))
        .cast("double") / size(array_union(col("ga"), col("gb"))))
      .filter(col("j") >= threshold)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
  }

  test("minhash LSH dedup: recall >= 0.95 and perfect precision vs brute force") {
    val truth = bruteforcePairs(0.7)
    assert(truth.nonEmpty, "fixture should contain planted near-dups")
    val got = Dedup.queries("q_dedup_minhash")(spark, sf0001)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    // precision: every emitted pair really is >= 0.7 (exact re-check ran)
    assert(got.subsetOf(truth), s"false positives: ${got -- truth}")
    // recall: banding (16 bands x 4 rows) at j~0.99 misses with prob ~0
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.95, s"recall $recall: missed ${truth -- got}")
  }

  test("cross-corpus banded dedup: recall >= 0.95 and perfect precision " +
      "vs brute-force cross-parity pairs") {
    val truth = bruteforcePairs(0.7)
      .collect { case (a, b) if a % 2 != b % 2 =>
        if (a % 2 == 0) (a, b) else (b, a) } // (base even, delta odd)
    assert(truth.nonEmpty, "fixture should contain cross-parity near-dups")
    val got = Dedup.queries("q_dedup_cross")(spark, sf0001)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(truth), s"false positives: ${got -- truth}")
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.95, s"recall $recall: missed ${truth -- got}")
  }

  test("prefix-filtered similarity join equals the brute-force pair set") {
    // the AllPairs/PPJoin completeness lemma, checked end-to-end: the
    // prefix-shingle candidate join must lose NO pair the quadratic join
    // finds (and exact verification must admit no extras) — same 3-gram
    // granularity as bruteforcePairs, so exact equality is the gate
    val truth = bruteforcePairs(0.7)
    val got = Dedup.prefixSimilarityJoinOnGrams(
        Dedup.batchGrams(Tables(spark, sf0001, "documents")), 0.7)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture should contain planted near-dups")
    assert(got === truth,
      s"missing: ${truth -- got}; extras: ${got -- truth}")
  }

  test("prefix join law: equals brute force on random corpora and thresholds") {
    // adversarial regime the fixture can't produce: a 6-word vocabulary
    // makes gram sets collide constantly, docs as short as 3 tokens
    // (single-gram sets), duplicate docs likely — the prefix-length
    // arithmetic and the rarity total order get exercised at their
    // boundaries, at several thresholds
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (trial <- 1 to 3) {
      val docs = (0 until 40).map { i =>
        val len = 3 + rnd.nextInt(10)
        (i.toLong + trial * 1000,
          Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      for (t <- Seq(0.5, 0.8)) {
        val truth = bruteforcePairsOf(df, t)
        val got = Dedup.prefixSimilarityJoinOnGrams(Dedup.batchGrams(df), t)
          .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
        assert(got === truth,
          s"trial $trial t=$t missing: ${truth -- got}; extras: ${got -- truth}")
      }
    }
  }

  test("simhash dedup finds the planted near-identical pairs") {
    val truth = bruteforcePairs(0.9)
    val got = Dedup.queries("q_dedup_simhash")(spark, sf0001)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    // simhash hamming<=3 is a different similarity notion; require strong
    // overlap with the jaccard-0.9 planted pairs, not equality
    val hit = truth.intersect(got).size.toDouble / truth.size
    assert(hit >= 0.8, s"simhash found $hit of planted pairs (got=${got.size})")
  }

  test("exact dedup groups only identical normalized texts") {
    val out = Dedup.queries("q_dedup_exact")(spark, sf0001)
    val total = out.agg(sum("n_copies")).as[Long].head()
    val docs = Tables(spark, sf0001, "documents").count()
    assert(total === docs, "every doc lands in exactly one group")
    assert(out.count() <= docs)
  }

  test("embedding near-dup: nearest-neighbor output has one row per vector") {
    val out = Dedup.queries("q_dedup_embedding")(spark, sf0001)
    assert(out.count() === Tables(spark, sf0001, "embeddings").count())
    // fixture has no planted embedding dups (max pairwise cos ~0.48)
    assert(out.filter(col("is_dup")).count() === 0)
  }

  test("connectedComponents: chains, stars, and disjoint pairs get min-id labels") {
    // 1-2-3-4 chain, star 10-{11,12,13}, pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (13L, 10L), (21L, 20L)).toDF("a", "b")
    val labels = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: 300-node chain converges (pointer jumping)") {
    // plain min-propagation needs diameter rounds (300 here, >> maxIter)
    // and would return wrong labels; the label-of-label hop makes it
    // logarithmic — this pins both convergence and correctness
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(labels.length === 300)
    assert(labels.forall(_._2 === 0L),
      s"non-min labels: ${labels.filter(_._2 != 0L).take(5).mkString(",")}")
  }

  test("q_dedup_clusters: every doc labeled, canonical iff min of its component") {
    val out = Dedup.queries("q_dedup_clusters")(spark, sf0001)
      .select("doc_id", "cluster_id", "is_canonical")
      .as[(Long, Long, Long)].collect()
    assert(out.length === Tables(spark, sf0001, "documents").count())
    // cluster ids are the min member of each cluster; canonical flag agrees
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min === cid, s"cluster $cid labeled above its min member")
      assert(members.count(_._3 == 1L) === 1, s"cluster $cid canonical count != 1")
      assert(members.find(_._3 == 1L).get._1 === cid)
    }
    // the cross-parity near-dup docs must share clusters with their pair
    val pairs = Dedup.queries("q_dedup_cross")(spark, sf0001)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect()
    val clusterOf = out.map(r => r._1 -> r._2).toMap
    pairs.foreach { case (a, b) =>
      assert(clusterOf(a) === clusterOf(b), s"paired docs $a,$b in different clusters")
    }
    assert(pairs.nonEmpty)
  }

  test("embedding near-dup finds planted near-dup vectors: recall >= 0.9, precision 1.0") {
    // plant: perturbed copies (cos ~0.9998 >> 0.95 threshold) of the first
    // 20 fixture vectors, ids offset by 1,000,000; everything else keeps
    // max pairwise cos ~0.48 < 0.95, so precision must be exact
    val base = Tables(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val planted = base.sortBy(_._1).take(20).map { case (id, v) =>
      val rms = math.sqrt(v.map(x => x.toDouble * x).sum / v.length)
      val copy = v.zipWithIndex.map { case (x, d) =>
        (x + 0.02 * rms * (((d + id) % 7) - 3) / 3.0).toFloat }
      (id + 1000000L, copy)
    }
    val plantedIds = planted.map(_._1).toSet
    val pairOf = planted.map { case (pid, _) => pid -> (pid - 1000000L) }.toMap
    val df = (base ++ planted).toSeq.toDF("vec_id", "embedding")

    val out = Dedup.embeddingNearDup(df)
    assert(out.count() === base.length + planted.length)
    val dups = out.filter(col("is_dup"))
      .select("vec_id", "nn_id").as[(Long, Long)].collect()
    // precision: every flagged row pairs a planted copy with its source
    dups.foreach { case (vid, nid) =>
      val ok = pairOf.get(vid).contains(nid) || pairOf.get(nid).contains(vid)
      assert(ok, s"false positive dup: $vid -> $nid")
    }
    // recall: each planted copy must be flagged with its source as NN
    val found = dups.collect {
      case (vid, nid) if plantedIds(vid) && pairOf(vid) == nid => vid
    }.toSet
    val recall = found.size.toDouble / planted.length
    assert(recall >= 0.9, s"planted-dup recall $recall: missed ${plantedIds -- found}")
  }

  test("containment join equals the brute-force asymmetric pair set") {
    val got = Dedup.queries("q_containment")(spark, sf0001)
      .select("doc_id", "container").as[(Long, Long)].collect().toSet
    // brute force on string grams, same probe slice / threshold
    val d = Tables(spark, sf0001, "documents")
      .withColumn("w", split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "))
      .filter(size(col("w")) >= 3)
      .withColumn("g", array_distinct(expr(
        "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")))
      .select("doc_id", "g")
    val truth = d.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("ida"), col("g").as("ga"))
      .crossJoin(d.select(col("doc_id").as("idb"), col("g").as("gb")))
      .filter(col("ida") =!= col("idb"))
      .withColumn("c", size(array_intersect(col("ga"), col("gb")))
        .cast("double") / size(col("ga")))
      .filter(col("c") >= 0.8)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(got === truth,
      s"missing=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
  }

  test("canonical containment = raw containment restricted to canonical containers") {
    // The dedup-first law: the PPJoin's output is a pure function of the
    // (probe, index) pair (the prefix filter only prunes candidates;
    // exact verify decides), so probing the raw doc_id%3 batch against
    // the CANONICAL-only index must equal the raw q_containment pair set
    // with the container endpoint canonical — the collapsed cliques are
    // exactly what's gone. This is what makes q_containment_canonical
    // the scale-safe replacement rather than a different statistic.
    val canon = Dedup.nearDupCanonicals(spark, sf0001)
      .as[Long].collect().toSet
    // the query reads the one-time store; a stale/divergent store would
    // break the restriction law below, so this doubles as the
    // store == fresh-computation determinism pin
    assert(Dedup.ensureCanonicalStore(spark, sf0001)
      .as[Long].collect().toSet === canon,
      "canonical store diverged from a fresh computation")
    val raw = Dedup.queries("q_containment")(spark, sf0001)
      .select("doc_id", "container").as[(Long, Long)].collect().toSet
    val got = Dedup.queries("q_containment_canonical")(spark, sf0001)
      .select("doc_id", "container").as[(Long, Long)].collect().toSet
    val want = raw.filter { case (_, b) => canon(b) }
    assert(got === want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // non-vacuity: dedup collapses something, the restriction actually
    // drops clique-internal pairs, and pairs against canonicals survive
    assert(canon.size < Tables(spark, sf0001, "documents").count(),
      "fixture has no near-dup cluster to collapse")
    assert(want.size < raw.size, "no clique-internal pair was collapsed")
    assert(got.nonEmpty, "no canonical containment pairs — vacuous law")
  }

  test("law: the containment rarity-order stores equal a fresh derivation") {
    // contain_cnt_v1 / contain_index_v1 are what let the containment
    // door rank micro-batch grams without recounting the index per
    // batch (round-12 weak); their content must stay a pure function of
    // the gram + canonical stores — counts exact, sets bit-identical
    // including the (cnt asc, hash asc) order the PPJoin positions
    // depend on.
    val idx = Dedup.ensureGramStore(spark, sf0001)
      .join(Dedup.ensureCanonicalStore(spark, sf0001), Seq("doc_id"))
    val freshCnt = idx.select(explode(col("grams")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("fcnt"))
    val cnt = Dedup.ensureContainCountStore(spark, sf0001)
    assert(cnt.count() === freshCnt.count(), "count store row count diverged")
    assert(cnt.join(freshCnt, "h").filter(col("cnt") =!= col("fcnt"))
      .count() === 0L, "stored gram counts diverged from a fresh fold")
    val freshSets = idx.select(col("doc_id"), explode(col("grams")).as("h"))
      .join(freshCnt, "h")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("fcnt"), col("h")))).as("arr"))
      .select(col("doc_id"), expr("transform(arr, x -> x.h)").as("fhs"))
    val sets = Dedup.ensureContainIndexStore(spark, sf0001)
    assert(sets.count() === freshSets.count(), "sets store row count diverged")
    assert(sets.join(freshSets, "doc_id")
      .filter(col("hs") =!= col("fhs") || col("n") =!= size(col("fhs")))
      .count() === 0L,
      "stored rarity-ordered sets diverged from a fresh derivation")
  }

  test("law: stored-order containment equals the recount path, both probe modes") {
    // The lemma the door rests on: candidates are complete under ANY
    // consistent shared rarity order (exact verify decides membership),
    // so ranking probe grams against the STORED index-only counts
    // (unseen grams rarest) must reproduce the recount path's output —
    // which unions probe+index grams and recounts per call — exactly,
    // in both the batch plan shape and the door's broadcastProbe shape.
    val g = Dedup.ensureGramStore(spark, sf0001)
    val probe = g.filter(col("doc_id") % 3 === 0)
    val index = g.join(Dedup.ensureCanonicalStore(spark, sf0001), Seq("doc_id"))
    val want = Dedup.containmentJoinProbeIndex(probe, index)
      .select("doc_id", "container", "inter_cnt", "containment")
      .as[(Long, Long, Int, Double)].collect().toSet
    val sets = Dedup.ensureContainIndexStore(spark, sf0001)
    val cnt = Dedup.ensureContainCountStore(spark, sf0001)
    for (bc <- Seq(false, true)) {
      val got = Dedup.containmentProbeStoredOrder(probe, sets,
          Dedup.containIndexPostings(sets), cnt, broadcastProbe = bc)
        .select("doc_id", "container", "inter_cnt", "containment")
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(got === want, s"broadcastProbe=$bc: " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
    assert(want.nonEmpty, "no containment pairs — vacuous law")
  }

  test("law: the signature store equals a fresh minhash64 fold over the gram store") {
    // Every banded consumer (q_dedup_minhash, nearDupCanonicals,
    // crossPairs' delta half) now reads sigs from the one-time store;
    // this pin is what keeps their oracles sound: store content must be
    // bit-identical to the per-run fold it replaced, for every doc.
    val fresh = Dedup.ensureGramStore(spark, sf0001)
      .select(col("doc_id"), call_function("minhash64", col("grams")).as("fsig"))
    val stored = Dedup.ensureSignatureStore(spark, sf0001)
    assert(stored.count() === fresh.count(), "signature store row count diverged")
    val diverged = stored.join(fresh, "doc_id")
      .filter(col("sig") =!= col("fsig")).count()
    assert(diverged === 0L, s"$diverged stored signatures diverged from a fresh fold")
    // and the base store's sig column is the full store's even-id slice
    val baseDiverged = Dedup.ensureBaseSignatureStore(spark, sf0001)
      .select(col("doc_id"), col("sig").as("bsig"))
      .join(stored, "doc_id")
      .filter(col("bsig") =!= col("sig")).count()
    assert(baseDiverged === 0L, s"$baseDiverged base-store sigs diverged from the full store")
  }

  test("law: the simhash store equals fresh fingerprints over documents") {
    // q_dedup_simhash(+_recall) run entirely off the store; the pin that
    // keeps their outputs sound: store content must be bit-identical to
    // the per-run fingerprint pass it replaced, for every doc.
    val fresh = Dedup.simhashFps(Tables(spark, sf0001, "documents"))
      .select(col("doc_id"), col("sig").as("fsig"))
    val stored = Dedup.ensureSimhashStore(spark, sf0001)
    assert(stored.count() === fresh.count(), "simhash store row count diverged")
    val diverged = stored.join(fresh, "doc_id")
      .filter(col("sig") =!= col("fsig")).count()
    assert(diverged === 0L, s"$diverged stored fingerprints diverged from fresh")
  }

  test("span dedup equals the brute-force cross-doc 8-gram duplication profile") {
    val got = graft.operators.Text.queries("q_span_dedup")(spark, sf0001)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"))).toMap
    // brute force: tokenize on the driver with the same normalization,
    // enumerate every 8-token span, find spans in >1 doc
    val docs = Tables(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.trim.split("\\s+").toSeq)
      .filter(_._2.length >= 8)
    val spans = docs.map { case (id, w) =>
      id -> w.sliding(8).map(_.mkString(" ")).toSeq
    }
    val docCount = spans.flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val want = spans.map { case (id, ss) =>
      id -> (ss.size.toLong, ss.count(s => docCount(s) > 1).toLong)
    }.toMap
    assert(got === want,
      s"mismatch on ${(got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k))}")
    // the fixture genuinely exercises the path: some docs have dup spans,
    // and not all of them do
    assert(got.values.exists(_._2 > 0) && got.values.exists(_._2 == 0))
  }

  test("span intervals equal the brute-force maximal duplicated-run merge") {
    val got = graft.operators.Text.queries("q_span_intervals")(spark, sf0001)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start_tok"),
        r.getAs[Long]("end_tok"), r.getAs[Long]("n_dup_spans"))).toSet
    // brute force on the driver: same tokenize, every 8-token span with
    // its 1-based start position, duplicated = hash in >1 distinct doc,
    // then a straight linear interval merge (overlap-or-abut: next start
    // <= current end + 1) — an INDEPENDENT algorithm from the query's
    // gaps-and-islands windows
    val docs = Tables(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.trim.split("\\s+").toSeq)
      .filter(_._2.length >= 8)
    val spans = docs.map { case (id, w) =>
      id -> w.sliding(8).map(_.mkString(" ")).toVector
    }
    val docCount = spans.flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val want = spans.flatMap { case (id, ss) =>
      val dupPos = ss.zipWithIndex.collect {
        case (s, i) if docCount(s) > 1 => (i + 1).toLong // 1-based start
      }
      // linear merge into maximal [start, start+7]-union intervals
      val intervals = dupPos.foldLeft(Vector.empty[(Long, Long, Long)]) {
        case (acc :+ ((s0, e0, n0)), p) if p <= e0 + 1 =>
          acc :+ ((s0, math.max(e0, p + 7), n0 + 1))
        case (acc, p) => acc :+ ((p, p + 7, 1L))
      }
      intervals.map { case (s0, e0, n0) => (id, s0, e0, n0) }
    }.toSet
    assert(got === want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // non-vacuous: the fixture must produce at least one MERGED interval
    // (wider than a single span); singleton/gap shapes are covered by the
    // planted-corpus test below
    assert(got.exists { case (_, s0, e0, _) => e0 - s0 > 7 },
      "no merged multi-span interval in fixture")
  }

  test("span intervals: planted corpus exercises merge, singleton, and gap shapes") {
    // The sf fixture's duplicated regions are all long runs, so plant a
    // corpus that hits every island edge: a merged 3-span run, an exact
    // single-span duplicate, and one doc with TWO intervals separated by
    // a >8-token gap (the island break the fixture never triggers).
    val c10 = (1 to 10).map("c" + _).mkString(" ") // 10 shared tokens
    val s8 = (1 to 8).map("s" + _).mkString(" ")   // exactly one shared span
    val corpus = Seq(
      101L -> c10,
      102L -> s"x1 x2 $c10",
      103L -> s"u1 u2 u3 $s8 u4 u5 u6",
      104L -> s"$s8 v1 v2 v3 v4",
      105L -> (c10 + " " + (1 to 9).map("w" + _).mkString(" ") + " " + s8))
    val dir = java.nio.file.Files.createTempDirectory("graft_span_planted").toString
    corpus.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.Text.queries("q_span_intervals")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start_tok"),
        r.getAs[Long]("end_tok"), r.getAs[Long]("n_dup_spans"))).toSet
    val want = Set(
      (101L, 1L, 10L, 3L),  // whole doc is one merged 3-span interval
      (102L, 3L, 12L, 3L),  // same interval shifted past the unique prefix
      (103L, 4L, 11L, 1L),  // singleton span mid-document
      (104L, 1L, 8L, 1L),   // singleton span at position 1
      (105L, 1L, 10L, 3L), (105L, 20L, 27L, 1L)) // gap > 8 -> two islands
    assert(got === want,
      s"missing=${want -- got} extra=${got -- want}")
  }

  test("q_pipeline_llm: planted corpus fires all three stages in order") {
    // The sf0.01 fixture has no exact-duplicate texts, so the dedup
    // stage is vacuous there (documented in the query's scaladoc); this
    // corpus makes every stage cut something, with the funnel computed
    // by hand. The sharpest law is stage ORDER: doc 2 is an exact copy
    // of doc 1, so if span masking ran BEFORE dedup, every window of
    // doc 1 would be duplicated and the whole doc masked; because dedup
    // runs first, only the 8-token span planted into doc 4 masks.
    val span = (1 to 8).map("span" + _).mkString(" ")
    val doc1 = "the of " + (1 to 44).map(i => f"word$i%02d").mkString(" ") +
      " " + span                                    // 54 words, passes
    val doc4 = "the of " + (1 to 40).map(i => f"beta$i%02d").mkString(" ") +
      " " + span + " beta41 beta42"                 // 52 words, passes
    val corpus = Seq(
      (1L, "sA", doc1),
      (2L, "sA", doc1),                             // exact dup -> removed
      (3L, "sA", "tiny doc the of x"),              // too few words
      (4L, "sB", doc4),
      (5L, "sB", (1 to 55).map(i => f"zz$i%02d").mkString(" "))) // 0 stopwords
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe_llm").toString
    corpus.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.Text.queries("q_pipeline_llm")(spark, dir)
      .collect()
      .map(r => r.getAs[String]("source") -> (
        r.getAs[Long]("docs_in"), r.getAs[Long]("docs_quality"),
        r.getAs[Long]("docs_kept"), r.getAs[Long]("tokens_kept"),
        r.getAs[Long]("tokens_masked"), r.getAs[Long]("tokens_out"),
        r.getAs[Double]("keep_rate"), r.getAs[Double]("mask_rate"))).toMap
    val want = Map(
      "sA" -> (3L, 2L, 1L, 54L, 8L, 46L, 0.333333, 0.148148),
      "sB" -> (2L, 1L, 1L, 52L, 8L, 44L, 0.5, 0.153846))
    assert(got === want, s"funnel mismatch: got $got")
  }

  test("simhashBandsFor: every tier yields an explodeBands-legal band width") {
    import spark.implicits._
    val tiny = Seq((1L, 123456789L)).toDF("doc_id", "sig")
    // the removed 2-band tier implied 32-bit bands, which explodeBands
    // rejects by design — q_dedup_simhash would have crashed at the
    // first corpus over 2M docs, exactly the regime the adaptive
    // banding exists for
    for (n <- Seq(1L, 10000L, 10001L, 2000000L, 2000001L, 3000000000L)) {
      val bits = 64 / Dedup.simhashBandsFor(n)
      graft.operators.Lsh.explodeBands(tiny, "sig", bits).collect()
    }
  }

  test("incremental span dedup equals brute force and only reports delta docs") {
    val got = graft.operators.Text.queries("q_span_dedup_cross")(spark, sf0001)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_base_dup_spans"))).toMap
    assert(got.keySet.forall(_ % 2 == 1), "base doc leaked into the delta report")
    val docs = Tables(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.trim.split("\\s+").toSeq)
      .filter(_._2.length >= 8)
    val spans = docs.map { case (id, w) =>
      id -> w.sliding(8).map(_.mkString(" ")).toSeq
    }
    val baseSet = spans.filter(_._1 % 2 == 0).flatMap(_._2).toSet
    val want = spans.filter(_._1 % 2 == 1).map { case (id, ss) =>
      id -> (ss.size.toLong, ss.count(baseSet).toLong)
    }.toMap
    assert(got === want,
      s"mismatch on ${(got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k))}")
    assert(got.values.exists(_._2 > 0), "no cross-corpus dup spans on the fixture")
  }

  test("q_span_mask applies exactly the q_span_intervals ranges") {
    val ivs = graft.operators.Text.queries("q_span_intervals")(spark, sf0001)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rows) =>
        id -> rows.map(r =>
          (r.getAs[Long]("start_tok"), r.getAs[Long]("end_tok"))).toSeq
      }
    val docs = Tables(spark, sf0001, "documents").select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.trim.split("\\s+").toSeq).toMap
    val out = graft.operators.Text.queries("q_span_mask")(spark, sf0001).collect()
    assert(out.length === docs.size, "one output row per document")
    for (r <- out) {
      val id = r.getAs[Long]("doc_id"); val w = docs(id)
      val iv = ivs.getOrElse(id, Seq.empty)
      val keep = (1 to w.length)
        .filterNot(ix => iv.exists(v => ix >= v._1 && ix <= v._2))
      assert(r.getAs[Long]("n_tokens") === w.length.toLong, s"doc $id n_tokens")
      assert(r.getAs[Long]("n_masked") === (w.length - keep.size).toLong,
        s"doc $id n_masked")
      assert(r.getAs[String]("masked_text") === keep.map(i => w(i - 1)).mkString(" "),
        s"doc $id masked_text")
    }
    assert(out.exists(_.getAs[Long]("n_masked") > 0), "fixture masked nothing")
    assert(out.exists(r => r.getAs[Long]("n_masked") == 0 &&
      r.getAs[Long]("n_tokens") > 0), "no clean doc passed through verbatim")
  }

  test("q_dedup_semantic: one row per vector, kept set tau-independent, removals sound") {
    val tau = 0.4
    val out = Dedup.queries("q_dedup_semantic")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Double]("centroid_cos"),
          r.getAs[Long]("is_kept"))).toMap
    val emb = Tables(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    assert(out.keySet === emb.keySet, "assignment must cover every vector once")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCluster = out.toSeq.groupBy(_._2._1)
    for ((_, members) <- byCluster; Seq(x, y) <- members.combinations(2)) {
      val c = cos(emb(x._1), emb(y._1))
      if (c >= tau) {
        // SemDeDup keep-rule invariant: two similar same-cluster members
        // can never BOTH survive (the lower-centroid-cos one is preferred
        // and forces the other out)
        assert(x._2._3 == 0L || y._2._3 == 0L,
          s"similar pair ${x._1},${y._1} (cos $c) both kept")
      }
    }
    // soundness: every removed member has at least one same-cluster
    // neighbor at cos >= tau that the (centroid_cos, vec_id) order prefers
    for ((vid, (cl, ccos, kept)) <- out if kept == 0L) {
      val hasPreferred = byCluster(cl).exists { case (ovid, (_, occos, _)) =>
        ovid != vid && cos(emb(vid), emb(ovid)) >= tau &&
          (occos < ccos || (occos == ccos && ovid < vid))
      }
      assert(hasPreferred, s"vector $vid removed without a preferred similar neighbor")
    }
    assert(out.values.exists(_._3 == 0L), "fixture produced no removals at tau=0.4")
  }

  test("law: corpus split partitions completely, ~80/10/10, and is growth-stable") {
    import graft.operators.Text
    val small = Text.corpusSplitAssign(Tables(spark, sf0001, "documents"))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val total = Tables(spark, sf0001, "documents").count()
    assert(small.size.toLong === total) // complete, one split per doc
    val frac = small.values.groupBy(identity).view
      .mapValues(_.size.toDouble / total).toMap
    // binomial sd at n=500 is ~1.8% — generous ±6% bounds
    assert(math.abs(frac("train") - 0.8) < 0.06, s"train frac $frac")
    assert(math.abs(frac.getOrElse("val", 0.0) - 0.1) < 0.06, s"val frac $frac")
    assert(math.abs(frac.getOrElse("test", 0.0) - 0.1) < 0.06, s"test frac $frac")
    // GROWTH STABILITY — the leakage guarantee: the 10×-bigger corpus
    // assigns every shared doc the SAME split (membership is a function
    // of doc_id alone, so arriving data can never pull a doc across the
    // train/test boundary)
    val big = Text.corpusSplitAssign(
      Tables(spark, "/root/testdata/sf0.1", "documents"))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val moved = small.filter { case (id, sp) => big.get(id).exists(_ != sp) }
    assert(moved.isEmpty, s"docs migrated between splits on growth: $moved")
    assert(small.keySet.subsetOf(big.keySet), "sf0.001 ids not in sf0.1")
  }

  test("law: sequence packing is an order isomorphism with gapless offsets") {
    import graft.operators.Text
    val out = Text.queries("q_pack_sequences")(spark, sf0001)
      .select("doc_id", "n_tokens", "shard", "off_in_shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty && out.forall(_._4 < 2048), "offset >= budget")
    // global position = shard*B + off must be the exact token prefix sum
    // in md5-key order: consecutive docs abut with no gap and no overlap
    def key(id: Long): (String, Long) =
      (java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString, id)
    val ordered = out.sortBy(t => key(t._1))
    var cum = 0L
    for ((id, n, shard, off) <- ordered) {
      assert(shard * 2048 + off === cum,
        s"doc $id starts at ${shard * 2048 + off}, expected $cum")
      cum += n
    }
  }

  test("law: q_pack_emit loses no token, overlaps none, and fills every non-final shard") {
    import graft.operators.Text
    val segs = Text.queries("q_pack_emit")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(segs.nonEmpty)
    // per doc: segments partition [0, n_tokens) exactly — no token lost,
    // none duplicated, straggler splits abut across shard boundaries
    val nTok = Text.queries("q_pack_sequences")(spark, sf0001)
      .select("doc_id", "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    segs.groupBy(_._2).foreach { case (doc, ss) =>
      val ranges = ss.sortBy(_._3).map(s => (s._3, s._4))
      assert(ranges.head._1 === 0L, s"doc $doc first slice starts at ${ranges.head._1}")
      ranges.sliding(2).foreach {
        case Array((_, e1), (s2, _)) => assert(s2 === e1 + 1, s"doc $doc gap/overlap")
        case _ =>
      }
      assert(ranges.last._2 === nTok(doc) - 1, s"doc $doc last slice short")
      // a doc's slices land in CONSECUTIVE shards
      val shards = ss.map(_._1).sorted
      assert(shards === (shards.head to shards.last).toArray.map(identity), s"doc $doc shards $shards")
    }
    // per shard: slice lengths sum to exactly 2048 (the final shard may
    // be short), and off_in_shard is the gapless running sum
    val maxShard = segs.map(_._1).max
    segs.groupBy(_._1).foreach { case (shard, ss) =>
      val ordered = ss.sortBy(_._5)
      var pos = 0L
      ordered.foreach { s =>
        assert(s._5 === pos, s"shard $shard slice at ${s._5}, expected $pos")
        pos += s._4 - s._3 + 1
      }
      if (shard < maxShard) assert(pos === 2048L, s"shard $shard holds $pos tokens")
      else assert(pos <= 2048L)
    }
  }

  test("law: q_pack_masked packs exactly the span-mask survivors, gapless") {
    import graft.operators.Text
    val packed = Text.queries("q_pack_masked")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(packed.nonEmpty && packed.forall(_._6 < 2048), "offset >= budget")
    // conservation vs the APPLIED mask: per doc, n_masked must equal
    // q_span_mask's own accounting — this is the law that makes the
    // interval-sum shortcut (never materializing the mask) legitimate:
    // intervals are disjoint and in-range, so the sum of their widths
    // IS the number of dropped tokens. n_tokens is checked against an
    // independent derivation that, like the pack, excludes the phantom
    // empty-string token of empty docs (q_span_mask counts it — the
    // fixtures carry no empty doc, but the law must not depend on that)
    val mask = Text.queries("q_span_mask")(spark, sf0001)
      .select("doc_id", "n_masked").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trueTok = Tables(spark, sf0001, "documents")
      .select(col("doc_id"),
        size(filter(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "),
          t => length(t) > 0)).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(packed.map(_._1).toSet === mask.keySet, "doc set drift vs mask")
    for ((id, n, m, kept, _, _) <- packed) {
      assert(n === trueTok(id), s"doc $id: pack n_tokens $n != ${trueTok(id)}")
      assert(m === mask(id), s"doc $id: pack n_masked $m != ${mask(id)}")
      assert(kept === n - m, s"doc $id: kept $kept != $n - $m")
    }
    // non-vacuity: the dedup operator actually removes training tokens
    assert(packed.map(_._3).sum > 0, "no masked token at sf0.001 — vacuous")
    // order isomorphism with gapless offsets over the KEPT counts (the
    // q_pack_sequences law, re-proven under the new weight), and the
    // shard count tiles the kept-token total exactly — fewer tokens,
    // fewer shards, nothing lost in between
    def key(id: Long): (String, Long) =
      (java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString, id)
    var cum = 0L
    for ((id, _, _, kept, shard, off) <- packed.sortBy(t => key(t._1))) {
      assert(shard * 2048 + off === cum,
        s"doc $id starts at ${shard * 2048 + off}, expected $cum")
      cum += kept
    }
    // every non-empty doc STARTS within the kept-token tiling (a
    // fully-masked doc may sit at a phantom boundary shard, like empty
    // docs in q_pack_sequences — it occupies no slot there)
    packed.filter(_._4 > 0).foreach(t =>
      assert(t._5 <= (cum - 1) / 2048, s"doc ${t._1} past the tiling"))
  }

  /** The packing contract, shared by the v1 and v2 capstone laws:
    * per doc the slices partition [0, n_tokens) and concatenate to the
    * encoded sequence; per shard the id slices tile [0, 2048)
    * gaplessly with non-final shards full. */
  private def checkPackingLaws(
      segs: Array[(Long, Long, Long, Long, Long, String)],
      enc: Map[Long, (String, Long)]): Unit = {
    segs.groupBy(_._2).foreach { case (doc, ss) =>
      val (fullIds, n) = enc(doc)
      val ordered = ss.sortBy(_._3)
      assert(ordered.head._3 === 0L, s"doc $doc first slice at ${ordered.head._3}")
      ordered.sliding(2).foreach {
        case Array((_, _, _, e1, _, _), (_, _, s2, _, _, _)) =>
          assert(s2 === e1 + 1, s"doc $doc gap/overlap")
        case _ =>
      }
      assert(ordered.last._4 === n - 1, s"doc $doc last slice short")
      ordered.foreach { s =>
        assert(s._6.split("-").length.toLong === s._4 - s._3 + 1,
          s"doc $doc slice [${s._3},${s._4}] carries ${s._6.split("-").length} ids")
      }
      assert(ordered.map(_._6).mkString("-") === fullIds,
        s"doc $doc: concatenated slices != encoded sequence")
    }
    assert(segs.map(_._2).toSet === enc.filter(_._2._2 > 0).keySet)
    val maxShard = segs.map(_._1).max
    segs.groupBy(_._1).foreach { case (shard, ss) =>
      val ordered = ss.sortBy(_._5)
      var pos = 0L
      ordered.foreach { s =>
        assert(s._5 === pos, s"shard $shard slice at ${s._5}, expected $pos")
        pos += s._4 - s._3 + 1
      }
      if (shard < maxShard) assert(pos === 2048L, s"shard $shard holds $pos tokens")
      else assert(pos <= 2048L)
    }
  }

  test("law: q_pipeline_pretrain loses no token ID — segments reconstruct every encoded doc and tile every shard") {
    import graft.operators.Text
    val segs = Text.queries("q_pipeline_pretrain")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    assert(segs.nonEmpty)
    // ground truth: the SAME encoded sequences the packer consumed
    val enc = Text.pretrainEncodedDocs(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        (r.getSeq[Int](1).mkString("-"), r.getLong(2))).toMap
    checkPackingLaws(segs, enc)
  }

  test("law: q_pipeline_pretrain_v2 packing laws hold; the full funnel and UNK rule bite") {
    // round-14 verdict task 8: the v2 capstone consumes the
    // q_corpus_clean funnel (scrub → both batteries → dedup). The
    // packing contract must hold UNCHANGED over the new survivor set,
    // the repetition stage must genuinely decide docs the word battery
    // kept (else v2 degenerates to v1), and the UNK rule must be live
    // (scrub markers tokenize to symbols the base tokenizer never saw
    // → id 0 in real segments).
    import graft.operators.Text
    val segs = Text.queries("q_pipeline_pretrain_v2")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    assert(segs.nonEmpty)
    val enc = Text.encodeWithTokenizer(spark, sf0001,
        Text.corpusCleanKeptDocs(spark, sf0001).select("doc_id", "w"),
        Text.ensurePretrainSymtabStore(spark, sf0001))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getSeq[Int](1).mkString("-"), r.getLong(2))).toMap
    checkPackingLaws(segs, enc)
    // the repetition stage bites IN THE FUNNEL: a planted word-salad
    // doc passes the word battery (the v1 gate) but is dropped by the
    // repetition battery, so it is absent from the v2 survivor set —
    // the fixture can't show this (its repetitive docs all fail the
    // word battery first; the q_corpus_clean planted-chain convention)
    import spark.implicits._
    val planted = Seq(
      (2L, "the rain and storm " +
        Seq.fill(30)("repeat phrase").mkString(" "), "s", "en"),
      (13L, (Seq("the", "of") ++ (3 to 60).map(i => s"word$i"))
        .mkString(" "), "s", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val v2kept = Text.corpusCleanKeptOf(planted)
      .select("doc_id").as[Long].collect().toSet
    val v1kept = Text.batteryKeptDocs(planted)
      .select("doc_id").as[Long].collect().toSet
    assert(v1kept === Set(2L, 13L), "plant broke the word battery")
    assert(v2kept === Set(13L),
      "the repetition stage did not drop the planted word salad")
    assert(segs.nonEmpty, "funnel kept nothing")
    // the UNK rule is live in the artifact: scrub markers (<email> etc.
    // after normalization) are unseen by the base tokenizer/symtab
    assert(segs.exists(_._6.split("-").contains("0")),
      "no UNK id in any v2 segment — the versioned-tokenizer rule is vacuous")
  }

  test("law: BPE merges are prefix-stable — training 3 rounds = first 3 of 5") {
    // the defining property of the iterative trainer: each round depends
    // only on the rounds before it, so a shorter run is a prefix of a
    // longer one (a vocab/stats leak across rounds would break this)
    val m5 = graft.operators.Text.bpeTrain(spark, sf0001, 5)
    val m3 = graft.operators.Text.bpeTrain(spark, sf0001, 3)
    assert(m5.length === 5 && m3.length === 3)
    assert(m3 === m5.take(3))
  }

  test("law: BPE merge loop chains and applies greedily (hand-checked vocab)") {
    import spark.implicits._
    // "abab" f=10, "abc" f=3:
    //   round 1 pairs: (a,b)=2*10+3=23, (b,a)=10, (b,c)=3 -> merge (a,b)
    //     abab -> [ab, ab] (greedy left-to-right, non-overlapping)
    //     abc  -> [ab, c]
    //   round 2 pairs: (ab,ab)=10, (ab,c)=3 -> merge (ab,ab): a CHAINED
    //     merge consuming round 1's output on both sides
    val words = Seq(("abab", 10L), ("abc", 3L)).toDF("word", "f")
    val m = graft.operators.Text.bpeTrainOf(words, 2)
    assert(m === Seq(
      (1, "a", "b", "ab", 23L),
      (2, "ab", "ab", "abab", 10L)))
    // the greedy non-overlap rule itself: "aaa" under (a,a) must yield
    // ONE (a,a) merge credit in round 2's stats, i.e. pair (aa,a)=f,
    // never a cascaded "aaa" token in round 1
    val m2 = graft.operators.Text.bpeTrainOf(Seq(("aaa", 7L)).toDF("word", "f"), 2)
    assert(m2.head === ((1, "a", "a", "aa", 14L))) // two OVERLAPPING stat pairs
    assert(m2(1) === ((2, "aa", "a", "aaa", 7L)))  // but only one merged token
  }

  test("law: BPE trainer stops early (merges so far) when the vocabulary is exhausted") {
    import spark.implicits._
    // "ab" admits exactly ONE merge; rounds beyond it used to throw
    // NoSuchElementException out of limit(1).head() — now the empty
    // pair table ends training with the accumulated list
    val m = graft.operators.Text.bpeTrainOf(Seq(("ab", 3L)).toDF("word", "f"), 5)
    assert(m === Seq((1, "a", "b", "ab", 3L)))
  }

  test("law: batched BPE selects non-interacting merges and applies them as one round (hand-checked)") {
    import spark.implicits._
    // round-1 candidates by (cnt desc, a, b): (a,b)=5, (c,d)=3, (c,e)=2.
    // k=2 keeps (a,b) and (c,d); (c,e) interacts with (c,d) via the
    // shared symbol c and must WAIT — it lands alone in round 2.
    val words = Seq(("ab", 5L), ("cd", 3L), ("ce", 2L)).toDF("word", "f")
    val (m, vocab) = graft.operators.Text.bpeTrainVocab(words, 5, mergesPerRound = 2)
    vocab.unpersist()
    assert(m === Seq(
      (1, "a", "b", "ab", 5L),
      (1, "c", "d", "cd", 3L),
      (2, "c", "e", "ce", 2L)))
  }

  test("law: batched BPE is prefix-stable per round and reaches >= 32 merges in <= 8 rounds") {
    // the batched schedule keeps the iterative trainer's defining
    // property AT ROUND GRANULARITY (each round depends only on the
    // rounds before it), and delivers the asymptotic story: a real
    // ~30k-merge tokenizer cannot pay one driver argmax per merge, so
    // k merges amortize into each vocabulary-grain round
    val wf = graft.operators.Text.bpeWordFreq(spark, sf0001)
    val (m8, v8) = graft.operators.Text.bpeTrainVocab(wf, 8, mergesPerRound = 8)
    v8.unpersist()
    assert(m8.length >= 32, s"only ${m8.length} merges in 8 rounds")
    assert(m8.map(_._1).max <= 8)
    // per-round disjointness: DIFFERENT merges of one round share no
    // symbol (left, right, or merged) — the batch-exactness
    // precondition (a==b within one merge, e.g. (g,g), is legal)
    m8.groupBy(_._1).foreach { case (rnd, ms) =>
      val sets = ms.map(t => Set(t._2, t._3, t._4))
      for (i <- sets.indices; j <- sets.indices if i < j)
        assert((sets(i) & sets(j)).isEmpty, s"round $rnd interacts: $ms")
    }
    val (m3, v3) = graft.operators.Text.bpeTrainVocab(wf, 3, mergesPerRound = 8)
    v3.unpersist()
    assert(m3 === m8.filter(_._1 <= 3), "batched schedule not prefix-stable")
  }

  test("law: batched BPE holds prefix stability and per-round disjointness at k = 64") {
    // the four-digit-scale schedule (SCALE.md, batched BPE at k = 64)
    // ran at mergesPerRound = 64 — the same laws must hold at the wider k:
    // each round depends only on the rounds before it, and no two
    // merges of one round share a symbol. Thin rounds are expected
    // (the small-alphabet round 1 yields few disjoint pairs).
    val wf = graft.operators.Text.bpeWordFreq(spark, sf0001)
    val (m4, v4) = graft.operators.Text.bpeTrainVocab(wf, 4, mergesPerRound = 64)
    v4.unpersist()
    assert(m4.nonEmpty && m4.map(_._1).max <= 4)
    m4.groupBy(_._1).foreach { case (rnd, ms) =>
      val sets = ms.map(t => Set(t._2, t._3, t._4))
      for (i <- sets.indices; j <- sets.indices if i < j)
        assert((sets(i) & sets(j)).isEmpty, s"round $rnd interacts: $ms")
    }
    val (m2, v2) = graft.operators.Text.bpeTrainVocab(wf, 2, mergesPerRound = 64)
    v2.unpersist()
    assert(m2 === m4.filter(_._1 <= 2), "k=64 schedule not prefix-stable")
  }

  test("law: the occupancy cap's spill bound — retained <= cap, spills land at the runner-up, and no constant-factor hard bound exists") {
    // round-13 verdict task 8: state the cap's bound as a LAW. The law:
    //   (1) assignment stays a partition (total, duplicate-free);
    //   (2) members RETAINED at their top-1 cluster never exceed cap;
    //   (3) every displaced member lands exactly at its exact-Top2
    //       runner-up, re-scored against it;
    //   (4) hence post-spill occupancy(c) == min(occ1(c), cap) +
    //       spillIns(c) — the bound is cap + spill-ins, EXACTLY;
    //   (5) counterexample to any hard k·cap bound: single-hop spill
    //       lets every over-cap member share one runner-up, so that
    //       cluster's post-spill occupancy grows with the spill volume
    //       (constructed below: cap=1, one hub runner-up absorbs 5).
    import graft.operators.Dedup
    // 3 orthogonal seeds; 6 vectors hug seed B with runner-up A (their
    // dim-0 component beats dim-2's), one vector sits AT A
    def v(id: Long, x: Double, y: Double, z: Double) =
      (id, Seq(x.toFloat, y.toFloat, z.toFloat))
    val vecs = (Seq(v(100, 1.0, 0.0, 0.0)) ++
      (1 to 6).map(i => v(i.toLong, 0.2, 1.0, 0.01 * i)))
      .toDF("vec_id", "embedding")
    val seeds = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 1.0f)))
      .toDF("seed_id", "s_emb")
    val cap = 1
    val ivf = Dedup.Ivf(Dedup.buildIvfSeedIndex(seeds, 3), probes = 3)
    val top2 = Dedup.assignToSeeds(vecs, seeds, top = 2, search = ivf)
      .select("vec_id", "cluster_id", "cluster2_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(top2(100L)._1 === 0L, s"anchor vec at A misassigned: ${top2(100L)}")
    (1 to 6).foreach(i =>
      assert(top2(i.toLong) === ((1L, 0L)), s"vec $i top2 ${top2(i.toLong)}"))
    val capped = Dedup.assignToSeeds(vecs, seeds,
        search = ivf.copy(cap = Some(cap)))
      .select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // (1) partition
    assert(capped.length === 7 && capped.map(_._1).distinct.length === 7)
    val byCluster = capped.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    // (2) retained-at-top1 <= cap per cluster
    byCluster.foreach { case (c, members) =>
      val retained = members.count(v => top2(v)._1 == c)
      assert(retained <= cap, s"cluster $c retains $retained > cap $cap")
    }
    // (3) every displaced member sits at its exact runner-up
    capped.foreach { case (v, c) =>
      if (top2(v)._1 != c)
        assert(c === top2(v)._2, s"vec $v spilled to $c, not its runner-up")
    }
    // (4) occupancy == min(occ1, cap) + spill-ins, per cluster
    val occ1 = top2.values.groupBy(_._1).view.mapValues(_.size).toMap
    val spillIns = capped.filter { case (v, c) => top2(v)._1 != c }
      .groupBy(_._2).view.mapValues(_.size).toMap
    (byCluster.keySet ++ occ1.keySet).foreach { c =>
      val expect = math.min(occ1.getOrElse(c, 0), cap) +
        spillIns.getOrElse(c, 0)
      assert(byCluster.get(c).map(_.size).getOrElse(0) === expect,
        s"cluster $c occupancy != min(occ1,cap)+spillIns")
    }
    // (5) the hub runner-up absorbed every spill: cluster A holds its
    // one retained member + 5 spill-ins = 6 = cap + 5 > 2·cap — the
    // documented counterexample to any hard constant-factor bound under
    // single-hop spill
    assert(byCluster(0L).size === 6,
      s"expected the hub cluster at cap+5=6, got ${byCluster(0L).size}")
    spark.catalog.clearCache()
  }

  test("law: IVF seed assignment with all cells probed equals exact assignment; total and lossless") {
    // the sub-quadratic assigner (SCALE.md round-11) is exact when its
    // probe count covers every coarse cell (all k seeds become
    // candidates, same max_by tie-break), and at any probe count it
    // must assign EVERY vector exactly once (the orphan fallback union
    // can neither drop nor duplicate)
    import graft.operators.Dedup
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val seeds = Dedup.semanticSeedsK(e, 8)
    val n = e.count()
    val idx = Dedup.buildIvfSeedIndex(seeds, 8)
    val allCells = Dedup.Ivf(idx, probes = 4) // nc = max(4, sqrt(8)) = 4 cells
    val exact = Dedup.assignToSeeds(e, seeds)
      .select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.assignToSeeds(e, seeds, search = allCells)
      .select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(full.length.toLong === n, "all-probe IVF must assign every vector once")
    full.foreach { case (v, c) =>
      assert(c === exact(v), s"vec $v: all-probe IVF $c != exact ${exact(v)}")
    }
    val two = Dedup.assignToSeeds(e, seeds, search = Dedup.Ivf(idx, probes = 2))
      .select("vec_id").collect().map(_.getLong(0))
    assert(two.length.toLong === n && two.distinct.length.toLong === n,
      "2-probe IVF must be total and duplicate-free")
    // Top2 variant (the door's delta-side form): all cells probed ==
    // exact Top2 on both winner and runner-up
    val exact2 = Dedup.assignToSeeds(e, seeds, top = 2)
      .select("vec_id", "cluster_id", "cluster2_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ivf2 = Dedup.assignToSeeds(e, seeds, top = 2, search = allCells)
      .select("vec_id", "cluster_id", "cluster2_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
    assert(ivf2.length.toLong === n, "all-probe IvfTop2 must be total")
    ivf2.foreach { case (v, pair) =>
      assert(pair === exact2(v), s"vec $v: all-probe IvfTop2 $pair != exact ${exact2(v)}")
    }
    // Capped variant (what seedSearch picks for top-1 beyond the
    // threshold): all cells probed + cap >= n must DEGENERATE to
    // exact assignment — no cluster can exceed n members, so no spill
    val cappedFull = Dedup.assignToSeeds(e, seeds,
        search = allCells.copy(cap = Some(n.toInt)))
      .select("vec_id", "cluster_id", "centroid_cos").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
    val exactCos = Dedup.assignToSeeds(e, seeds)
      .select("vec_id", "cluster_id", "centroid_cos").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(cappedFull.length.toLong === n, "uncapped all-probe must be total")
    cappedFull.foreach { case (v, pair) =>
      assert(pair === exactCos(v), s"vec $v: capped(all,∞) $pair != exact ${exactCos(v)}")
    }
    // and the cap is LIVE: capping at 1 forces spills on this fixture
    // (some cluster holds > 1 member), yet assignment stays total
    val capped1 = Dedup.assignToSeeds(e, seeds,
        search = allCells.copy(cap = Some(1)))
      .select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(capped1.length.toLong === n, "capped assignment must stay total")
    assert(capped1.exists { case (v, c) => c != exact(v) },
      "cap=1 spilled nothing — the cap is dead")
    // Top3 variant (the p3 door's rung beyond the threshold): all cells
    // probed == exact Top3 on winner, runner-up, AND third
    val exact3 = Dedup.assignToSeeds(e, seeds, top = 3)
      .select("vec_id", "cluster_id", "cluster2_id", "cluster3_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ivf3 = Dedup.assignToSeeds(e, seeds, top = 3, search = allCells)
      .select("vec_id", "cluster_id", "cluster2_id", "cluster3_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ivf3.length.toLong === n, "all-probe IvfTop3 must be total")
    ivf3.foreach { case (v, triple) =>
      assert(triple === exact3(v), s"vec $v: all-probe IvfTop3 $triple != exact ${exact3(v)}")
    }
    spark.catalog.clearCache() // the assigners persist coded frames
  }

  test("law: exact and all-cells IVF top-n assignment break cosine ties to the smaller seed id") {
    // No fixture embedding ties two seeds, so the tie rule (ORDER BY
    // ccos DESC, seed_id — the oracles') is planted here: seeds 3 and 7
    // share one embedding, and any vector with equal x/y (or zero x/y)
    // components sits at the same cosine from several seeds. The spec
    // is a driver-side brute force ranked by (cosine desc, seed_id asc),
    // with the cosine folded exactly as cosine_sim folds it (double
    // accumulation over the float components).
    import graft.operators.Dedup
    val seedVecs = Seq(7L -> Seq(1f, 0f, 0f), 3L -> Seq(1f, 0f, 0f),
      5L -> Seq(0f, 1f, 0f), 2L -> Seq(0f, 0f, 1f), 9L -> Seq(1f, 1f, 0f))
    val vecs = Seq(1L -> Seq(1f, 0.1f, 0.05f), 2L -> Seq(1f, 1f, 0.1f),
      3L -> Seq(0f, 0f, 1f), 4L -> Seq(-1f, 0.2f, 0.3f),
      5L -> Seq(0.3f, 0.9f, 0.2f), 6L -> Seq(1f, 1f, 1f))
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.zip(b).foreach { case (x, y) =>
        dot += x.toDouble * y; na += x.toDouble * x; nb += y.toDouble * y }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val ranked = vecs.map { case (v, emb) =>
      v -> seedVecs.map { case (sid, se) => (cos(emb, se), sid) }
        .sortBy { case (c, sid) => (-c, sid) }
    }.toMap
    // non-vacuity: ties straddle the rank 1|2 and the rank 2|3 boundary
    assert(ranked(1L)(0)._1 == ranked(1L)(1)._1, "no rank-1 tie planted")
    assert(ranked(2L)(1)._1 == ranked(2L)(2)._1, "no rank-2 tie planted")
    val seeds = seedVecs.toDF("seed_id", "s_emb")
    val e = vecs.toDF("vec_id", "embedding")
    // nc = max(4, √5) = 4 coarse cells: 4 probes reach every seed
    val allCells = Dedup.Ivf(Dedup.buildIvfSeedIndex(seeds, 5), probes = 4)
    val searches = Seq[(String, Dedup.SeedSearch)](
      "exact" -> Dedup.Exact, "all-cells IVF" -> allCells)
    for (top <- 1 to 3; (name, search) <- searches) {
      val cols = Seq("cluster_id", "cluster2_id", "cluster3_id").take(top)
      val got = Dedup.assignToSeeds(e, seeds, top, search)
        .select(col("vec_id") +: col("centroid_cos") +: cols.map(col): _*)
        .collect().map(r => r.getLong(0) ->
          (r.getDouble(1), cols.indices.map(i => r.getLong(2 + i)).toList))
        .toMap
      val want = ranked.map { case (v, rs) =>
        v -> (rs.head._1, rs.take(top).map(_._2).toList) }
      assert(got === want, s"$name top=$top")
    }
    spark.catalog.clearCache() // the IVF path persists its frames
  }

  test("law: the union recall twin is consistent with the probe ladder and the union only adds") {
    // q_dedup_semantic_recall_union is rows-only (band collisions are
    // hash-specific), so its laws stand in for an oracle: (a) its
    // ground-truth pair count and 2-probe arm must EQUAL the oracled
    // ladder row's (two independent code paths computing the same
    // statistic), (b) the union can only add detections, and (c) on
    // this fixture the band family must genuinely complement the
    // cluster probes (strict gain — the measured SCALE.md effect)
    import graft.operators.Dedup
    val u = Dedup.queries("q_dedup_semantic_recall_union")(spark, sf0001)
      .collect()(0)
    val l = Dedup.queries("q_dedup_semantic_recall")(spark, sf0001)
      .collect()(0)
    assert(u.getAs[Long]("n_true_pairs") === l.getAs[Long]("n_true_pairs"))
    assert(u.getAs[Long]("n_detected_mp2") === l.getAs[Long]("n_detected_mp"))
    assert(u.getAs[Double]("recall_mp2") === l.getAs[Double]("recall_mp2"))
    assert(u.getAs[Long]("n_detected_union") >= u.getAs[Long]("n_detected_mp2"))
    assert(u.getAs[Long]("n_detected_union") > u.getAs[Long]("n_detected_mp2"),
      "band arm added no detection on this fixture — complementarity lost")
    assert(u.getAs[Double]("recall_union") <= 1.0)
    spark.catalog.clearCache()
  }

  test("property: containmentJoinProbeIndex equals brute force on adversarial random gram sets") {
    // The probe/index PPJoin's completeness lemma, pinned beyond the
    // fixture: random small gram sets drawn from a TINY hash pool (so
    // containments, exact duplicates, probe∩index overlap, and
    // size-boundary pairs all occur), at two thresholds including one
    // where the epsilon discipline's ceil boundary (n*t integral) is
    // exercised. Brute force on the driver is the spec. The same draws
    // also check the other two forms of the one shared PPJoin stage:
    // the stored-order probe (both probe modes) and the raw
    // self-corpus join.
    val rnd = new scala.util.Random(20261215L)
    for (trial <- 1 to 3; t <- Seq(0.5, 0.8)) {
      val pool = (1L to 15L).map(h => h * 1000003L)
      val docs = (1 to 28).map { id =>
        val size = 2 + rnd.nextInt(7)
        id.toLong -> rnd.shuffle(pool).take(size).toSet
      } ++ Seq( // planted: exact dup + strict subset (containment 1.0)
        101L -> pool.take(6).toSet, 102L -> pool.take(6).toSet,
        103L -> pool.take(3).toSet)
      val probeIds = docs.map(_._1).filter(_ => rnd.nextBoolean()).toSet + 103L
      val indexIds = docs.map(_._1).filter(_ => rnd.nextBoolean()).toSet ++
        Set(101L, 102L)
      val df = docs.toSeq.map { case (id, g) => (id, g.toSeq.sorted) }
        .toDF("doc_id", "grams")
      val probe = df.filter(col("doc_id").isin(probeIds.toSeq: _*))
      val index = df.filter(col("doc_id").isin(indexIds.toSeq: _*))
      val byId = docs.toMap
      def brute(ps: Set[Long], is: Set[Long]): Set[(Long, Long)] = (for {
        a <- ps.toSeq; b <- is.toSeq
        if a != b
        if (byId(a) intersect byId(b)).size.toDouble / byId(a).size >= t
      } yield (a, b)).toSet
      def check(form: String, out: org.apache.spark.sql.DataFrame,
          want: Set[(Long, Long)]): Unit = {
        val got = out.select("doc_id", "container").as[(Long, Long)]
          .collect().toSet
        assert(got === want,
          s"trial $trial t=$t $form: missing=${(want -- got).take(5)} " +
            s"extra=${(got -- want).take(5)}")
      }
      val want = brute(probeIds, indexIds)
      check("probe/index", Dedup.containmentJoinProbeIndex(probe, index, t), want)
      // stored-order form: index-side counts, rarity-ordered sets and
      // postings built here from the index alone (the store law's recipe)
      val cnt = index.select(explode(col("grams")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("cnt"))
      val sets = index.select(col("doc_id"), explode(col("grams")).as("h"))
        .join(cnt, "h").groupBy("doc_id")
        .agg(array_sort(collect_list(struct(col("cnt"), col("h")))).as("arr"))
        .select(col("doc_id"), expr("transform(arr, x -> x.h)").as("hs"),
          size(col("arr")).as("n"))
      for (bc <- Seq(false, true))
        check(s"stored-order broadcastProbe=$bc",
          Dedup.containmentProbeStoredOrder(probe, sets,
            Dedup.containIndexPostings(sets), cnt, t, bc), want)
      // raw self-corpus form: the doc_id % 3 == 0 slice against every doc
      val ids = docs.map(_._1).toSet
      check("raw", Dedup.containmentJoinOnGrams(df, t),
        brute(ids.filter(_ % 3 == 0), ids))
      assert(want.nonEmpty, s"trial $trial t=$t: vacuous draw")
      spark.catalog.clearCache() // the joins persist their set frames
    }
  }

  test("law: the pretrain manifest tiles shards and checksums the exact reconstruction") {
    // independent driver-side recompute: group the capstone's segments
    // by shard, concatenate id slices in off_in_shard order, md5 with
    // java's MessageDigest (not Spark's md5) — the manifest must match
    // row-for-row, and every non-final shard must carry exactly 2048 ids
    import graft.operators.Text
    val seg = Text.queries("q_pipeline_pretrain")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("off_in_shard"),
        r.getAs[Long]("start_tok"), r.getAs[Long]("end_tok"),
        r.getAs[String]("ids")))
    val man = Text.queries("q_pretrain_manifest")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_segments"), r.getAs[Long]("n_tokens"),
          r.getAs[String]("shard_checksum"))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val byShard = seg.groupBy(_._1)
    assert(man.keySet === byShard.keySet)
    val maxShard = byShard.keySet.max
    byShard.foreach { case (shard, rows) =>
      val (nSeg, nTok, sum) = man(shard)
      assert(nSeg === rows.length.toLong, s"shard $shard segment count")
      val tokens = rows.map(r => r._4 - r._3 + 1).sum
      assert(nTok === tokens, s"shard $shard token count")
      if (shard != maxShard)
        assert(tokens === 2048L, s"non-final shard $shard holds $tokens ids")
      val rebuilt = rows.sortBy(_._2).map(_._5).mkString("-")
      assert(sum === md5hex(rebuilt), s"shard $shard checksum mismatch")
    }
    spark.catalog.clearCache()
  }

  test("law: the persisted tokenizer store equals a fresh training run") {
    // q_bpe_train/vocab/encode read the one-time store; its content
    // must be bit-equal to training now (determinism is what lets the
    // oracles keep rebuilding training via CTEs — the synthesized-input
    // rule)
    val stored = graft.operators.Text.bpeStoreMerges(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(t => (t._1, t._2, t._3))
    val fresh = graft.operators.Text.bpeTrain(spark, sf0001, 5)
      .sortBy(t => (t._1, t._2, t._3))
    assert(stored.toSeq === fresh)
  }
}
