package graft.functions

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Deterministic hashing primitives for the dedup family: the SplitMix64
  * mixer the native MinHash/SimHash/hyperplane expressions share, and the
  * SimHash and random-hyperplane references they are pinned against.
  *
  * All seeds are fixed constants: results are reproducible across runs,
  * partitionings, and cluster sizes (required both for the correctness gate
  * and for incremental dedup at 100 TB — re-hashing a grown corpus must not
  * move old documents to new buckets).
  */
object Hashing extends Serializable {

  /** SplitMix64 — public-domain mixing function (Steele et al., JDK
    * SplittableRandom); used to derive per-permutation coefficients.
    */
  @inline def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** SimHash-64: per-token 64-bit hash; each bit position accumulates
    * +1/-1; the fingerprint bit is the sign. Near-duplicate docs land at
    * small Hamming distance.
    *
    * PARITY REFERENCE ONLY: the production path is the native codegen
    * expression [[SimHash64]] (registered as `simhash64_fp`); FunctionsSpec
    * pins bit-equality.
    */
  def simhash64(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = splitmix64(MurmurHash3.stringHash(t).toLong)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Random-hyperplane LSH: `nBits` signed projections of the embedding;
    * bit j = sign(dot(plane_j, v)). Plane coefficients are deterministic
    * uniform(-0.5, 0.5) from SplitMix64. P(bit differs) = angle/pi.
    *
    * PARITY REFERENCE ONLY: the production path is the native codegen
    * expression [[HyperplaneBits]] (registered as `hyperplane_bits`), which
    * precomputes the plane matrix once per JVM instead of regenerating all
    * nBits*dim coefficients per row. FunctionsSpec pins bit-equality.
    */
  def hyperplaneBits(nBits: Int, dim: Int, seed: Long)(v: Seq[Float]): Long = {
    var out = 0L
    var j = 0
    while (j < nBits) {
      var dot = 0.0
      var d = 0
      while (d < dim && d < v.length) {
        val u = (splitmix64(seed + j * 1024L + d) >>> 11).toDouble / (1L << 53).toDouble
        dot += (u - 0.5) * v(d)
        d += 1
      }
      if (dot > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  // --- Column-level wrappers -------------------------------------------

  val simhashUdf: UserDefinedFunction = udf(simhash64 _)

  def hyperplaneUdf(nBits: Int = 64, dim: Int = 64, seed: Long = 42L): UserDefinedFunction =
    udf(hyperplaneBits(nBits, dim, seed) _)

  def simhash(c: Column): Column = simhashUdf(c)
  def hyperplane(c: Column, nBits: Int = 64, dim: Int = 64, seed: Long = 42L): Column =
    hyperplaneUdf(nBits, dim, seed)(c)
}
