package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** ANN quality gates: the native cosine expression against a hand-rolled
  * computation, and LSH recall against the brute-force top-k.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("CosineSimilarity expression matches scala-side computation (codegen path)") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f)),
      (2L, Array(0.5f, -1.0f, 1.5f)),
      (3L, Array(-1.0f, 0.25f, 0.0f))).toDF("id", "v")
    val a = vecs.select(col("id").as("ia"), col("v").as("va"))
    val b = vecs.select(col("id").as("ib"), col("v").as("vb"))
    val got = a.crossJoin(b)
      .select(col("ia"), col("ib"), call_function("cosine_sim", col("va"), col("vb")).as("cos"))
      .as[(Long, Long, Double)].collect()
      .map { case (i, j, c) => ((i, j), c) }.toMap

    def manual(x: Array[Float], y: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- x.indices) {
        dot += x(i).toDouble * y(i); na += x(i).toDouble * x(i); nb += y(i).toDouble * y(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val data = Map(1L -> Array(1.0f, 0.0f, 2.0f), 2L -> Array(0.5f, -1.0f, 1.5f),
      3L -> Array(-1.0f, 0.25f, 0.0f))
    for (i <- data.keys; j <- data.keys)
      assert(got((i, j)) === manual(data(i), data(j)), s"pair ($i,$j)")
    assert(math.abs(got((1L, 1L)) - 1.0) < 1e-12)
  }

  test("LSH ANN recall vs brute-force top-10") {
    val bf = Similarity.queries("q_ann_bruteforce")(spark, sf0001)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val lsh = Similarity.queries("q_ann_lsh")(spark, sf0001)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(lsh).size.toDouble / bf.size
    // hyperplane LSH on weakly-clustered vectors: modest recall is expected;
    // the gate catches broken banding (recall ~0), not tuning drift.
    assert(recall >= 0.2, s"LSH recall collapsed: $recall")
    assert(lsh.nonEmpty)
  }

  test("IVF ANN recall vs brute-force top-10 and per-query shape") {
    val bf = Similarity.queries("q_ann_bruteforce")(spark, sf0001)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.queries("q_ann_ivf")(spark, sf0001)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    println(s"IVF recall@10 = $recall")
    // 4 of 16 probed buckets on weakly-clustered vectors: the gate catches
    // a broken index (recall ~ bucket fraction on random assignment), not
    // tuning drift.
    assert(recall >= 0.3, s"IVF recall collapsed: $recall")
    // every emitted neighbor must be real top-cosine within its candidates:
    // ranks are 1..n with no self-pairs
    val out = Similarity.queries("q_ann_ivf")(spark, sf0001)
    assert(out.filter(col("qid") === col("nid")).count() === 0)
    assert(out.groupBy("qid").count().as[(Long, Long)].collect().forall(_._2 <= 10))
  }

  test("Lsh.bandBits targets constant bucket size and is monotone in corpus size") {
    import graft.operators.Lsh
    // 2^bits >= n/32, smallest of {4,8,16}
    assert(Lsh.bandBits(100) === 4)
    assert(Lsh.bandBits(512) === 4)      // 512/32 = 16 = 2^4 exactly
    assert(Lsh.bandBits(513) === 8)
    assert(Lsh.bandBits(8192) === 8)     // 8192/32 = 256 = 2^8 exactly
    assert(Lsh.bandBits(8193) === 16)
    assert(Lsh.bandBits(1000000000L) === 16) // cap: scale out via more codes
    val ns = Seq(10L, 100L, 1000L, 10000L, 100000L, 10000000L)
    val widths = ns.map(Lsh.bandBits(_))
    assert(widths === widths.sorted, s"band width must not shrink as n grows: $widths")
    // bucket-size bound below the cap: n / 2^bits <= targetBucket
    ns.filter(n => Lsh.bandBits(n) < 16).foreach { n =>
      assert(n.toDouble / (1L << Lsh.bandBits(n)) <= 32.0, s"n=$n")
    }
  }

  test("cross-corpus ANN recovers planted delta near-dups from the coded base") {
    val base = Tables(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    // delta: perturbed copies (cos ~0.9998) of 15 base vectors
    val planted = base.sortBy(_._1).take(15).map { case (id, v) =>
      val rms = math.sqrt(v.map(x => x.toDouble * x).sum / v.length)
      val copy = v.zipWithIndex.map { case (x, d) =>
        (x + 0.02 * rms * (((d + id) % 5) - 2) / 2.0).toFloat }
      (id + 1000000L, copy)
    }
    val baseCoded = base.toSeq.toDF("vec_id", "embedding")
      .withColumn("code", call_function("hyperplane_bits", col("embedding")))
    val delta = planted.toSeq.toDF("vec_id", "embedding")
    val out = Similarity.annCross(baseCoded, delta, k = 3)
      .filter(col("rn") === 1)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    // each planted query's top-1 neighbor must be its source vector
    val hit = planted.count { case (pid, _) => out.get(pid).contains(pid - 1000000L) }
    val recall = hit.toDouble / planted.length
    assert(recall >= 0.9, s"cross-corpus planted recall $recall (hits=$hit)")
  }

  test("brute force returns exactly top-10 per query, self excluded") {
    val bf = Similarity.queries("q_ann_bruteforce")(spark, sf0001)
    val perQ = bf.groupBy("qid").count().as[(Long, Long)].collect().toMap
    assert(perQ.size === 5)
    assert(perQ.values.forall(_ === 10L))
    assert(bf.filter(col("qid") === col("nid")).count() === 0)
  }
}
