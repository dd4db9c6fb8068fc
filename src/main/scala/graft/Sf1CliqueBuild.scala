package graft

import org.apache.spark.sql.functions._

/** Planted-clique sf1 fixture for the near-dup CLUSTERING contracts
  * (round-13 verdict task 1): the seven clustering-dependent /
  * sequential-fold queries (q_dedup_cross/clusters, q_cluster_canonical,
  * q_containment_canonical, q_stream_containment,
  * q_stream_neardup_filter/_grow) could not join the sf1 oracle sweep
  * because their brute-force oracles are quadratic in docs AND sample
  * restriction is unsound for cluster membership (an in-sample doc may
  * cluster through out-of-sample links). This builder makes the links
  * impossible BY CONSTRUCTION — the vocabulary-disjointness trick of
  * the containment-door flatness probe (SCALE.md round-13) applied to
  * document text instead of gram hashes:
  *
  *   - corpus = the full 50k-doc sf1 corpus (/tmp/graft_sf1_v1,
  *     graft.Sf1Build) ∪ ~250 PLANTED docs in ids >= 9e8;
  *   - each planted clique c has its own token vocabulary
  *     (`clq{c}tok*` / `clq{c}ext*`), disjoint from every other clique
  *     and — asserted by the checker — absent from all organic text, so
  *     a planted doc can share NO gram with any doc outside its clique:
  *     planted near-dup/containment links are clique-internal, full
  *     stop, and the restriction of any cluster/canonical/fold output
  *     to planted ids equals that query's own oracle evaluated over the
  *     planted docs ALONE (a few hundred rows — brute-force feasible);
  *   - within a clique, doc j's token stream is doc k's PREFIX for
  *     j < k (60 shared tokens + j extras), so all pairwise Jaccards
  *     are >= 58/63 ≈ 0.92 — the J >= 0.9 regime where 16-bands-of-4
  *     recall is 1 − (1 − s⁴)¹⁶ > 1 − 2e-9, the same structural-recall
  *     argument the sf0.01/0.1 fixtures' oracles already rest on — and
  *     every non-canonical clique member is >= 92% contained in its
  *     canonical, so the containment probes fire too.
  *
  * Clique shapes sweep the semantics under test: sizes 1..6 cycling;
  * most cliques take consecutive ids (mixed parity → cross-parity
  * cluster edges, mixed %3 probes, mixed %8 grow groups); every 7th
  * clique is all-EVEN ids (full-pair clique but ZERO cross-parity
  * edges → all singletons in q_dedup_clusters, yet one canonical in the
  * containment index) and every 11th all-ODD (no base partner → the
  * frozen filter keeps all, while the GROW door must drop later-group
  * members against earlier survivors — the exact growth semantics).
  *
  * Run: `sbt "runMain graft.Sf1CliqueBuild"` (after Sf1Build), then
  * Verify over the clique dir for the seven queries and
  * `tools/check_sf1_cliques.py <cliqueDir> <verifyOutDir>`.
  */
object Sf1CliqueBuild {

  val root = s"${System.getProperty("java.io.tmpdir")}/graft_sf1_clique_v1"
  val PlantMin = 900000000L
  val NumCliques = 72

  final case class Planted(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  /** The planted rows — a pure function of (clique, member) so the
    * checker can re-derive ground truth from ids alone. */
  def plantedDocs(): Seq[Planted] = {
    var cursor = PlantMin
    val out = Seq.newBuilder[Planted]
    for (c <- 0 until NumCliques) {
      val size = (c % 6) + 1
      val parity: Option[Long] =
        if (size > 1 && c % 7 == 0) Some(0L)       // all-even clique
        else if (size > 1 && c % 11 == 0) Some(1L) // all-odd clique
        else None
      parity.foreach { p => if (cursor % 2 != p) cursor += 1 }
      val step = if (parity.isDefined) 2 else 1
      for (j <- 0 until size) {
        val toks = (0 until 60).map(t => s"clq${c}tok$t") ++
          (0 until j).map(e => s"clq${c}ext$e")
        val text = toks.mkString(" ")
        out += Planted(cursor, text, "en", "planted", text.length.toLong)
        cursor += step
      }
      cursor += 3 // gap between cliques (keeps id shapes irregular)
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    // optional args for fast local iteration at a smaller SF:
    //   args(0) = source dir holding documents.parquet (default: sf1)
    //   args(1) = destination root (default: /tmp/graft_sf1_clique_v1)
    val src = if (args.length > 0) args(0) else Sf1Build.root
    val root = if (args.length > 1) args(1) else this.root
    if (src == Sf1Build.root)
      require(new java.io.File(s"$src/_built").exists(),
        s"$src missing — run graft.Sf1Build first")
    val spark = GraftSession.local("graft-sf1-clique-build", 32)
    import spark.implicits._
    val marker = new java.io.File(s"$root/_built")
    if (marker.exists()) { println(s"[sf1clique] already built at $root"); spark.stop(); return }
    val organic = spark.read.parquet(s"$src/documents.parquet")
    require(organic.filter(col("doc_id") >= PlantMin).count() == 0L,
      "organic sf1 ids collide with the planted range")
    val planted = plantedDocs()
    println(s"[sf1clique] planting ${planted.size} docs in $NumCliques cliques")
    organic.unionByName(planted.toDF())
      .write.mode("overwrite").parquet(s"$root/documents.parquet")
    marker.createNewFile()
    println(s"[sf1clique] built $root")
    spark.stop()
  }
}
