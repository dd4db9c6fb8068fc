package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Banding

/** Laws for the banded-prefix-sum machinery: Banding.sumsBefore must
  * equal the single-window strictly-before sum on ANY frame (duplicate,
  * all-equal and negated keys, computed or fixed bounds),
  * Banding.offsets must equal the naive sequential scan on ANY band
  * table (gaps, single band, multi-column partials), and q_lorenz's
  * integer decile arithmetic must reproduce SQL ntile(k) exactly for
  * every (n, rank) — these two facts are what make the banded plans
  * bit-identical to the single-window forms they replaced.
  */
class BandingSpec extends SparkSpec {

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  private def offsetsOf(rows: Seq[(Long, Seq[Long])], nCols: Int): Map[Long, Seq[Long]] = {
    val schema = StructType(StructField("bkt", LongType, nullable = false) +:
      (1 to nCols).map(i => StructField(s"p$i", LongType, nullable = false)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (b, ps) => Row.fromSeq(b +: ps) }: _*),
      schema)
    Banding.offsets(df, (1 to nCols).map(i => s"o$i"))
      .collect().map(r => r.getLong(0) -> (1 to nCols).map(r.getLong).toSeq).toMap
  }

  private val frameSchema = StructType(Seq("id", "k", "w1", "w2")
    .map(n => StructField(n, LongType, nullable = n.startsWith("w"))))

  private def frameOf(rows: Seq[(Long, Option[Long], Option[Long])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.zipWithIndex.map {
      case ((k, w1, w2), id) => Row(id.toLong, k, w1.orNull, w2.orNull)
    }: _*), frameSchema)

  private val weights = Seq("b1" -> col("w1"), "b2" -> col("w2"))

  /** id -> (b1, b2) of the banded sums; also checks that every input
    * column passes through and no band column leaks out. */
  private def banded(df: DataFrame, key: Column, order: Seq[Column],
      bounds: Option[(Column, Column)]): Map[Long, (Long, Long)] = {
    val out = Banding.sumsBefore(df, key, order, weights, bounds)
    assert(out.columns.toSeq === df.columns.toSeq ++ Seq("b1", "b2"))
    out.select("id", "b1", "b2").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  /** The single-task reference: one unpartitioned window, nulls as 0. */
  private def reference(df: DataFrame, order: Seq[Column]): Map[Long, (Long, Long)] = {
    val w = Window.orderBy(order: _*).rowsBetween(Window.unboundedPreceding, -1)
    def before(c: String) =
      coalesce(sum(coalesce(col(c), lit(0L))).over(w), lit(0L))
    df.select(col("id"), before("w1"), before("w2")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("law: sumsBefore equals the single-window strictly-before sum " +
      "(ascending and negated-key descending, computed and fixed bounds)") {
    val genW = Gen.option(Gen.choose(-1000L, 1000L))
    // narrow ranges force duplicate keys (ties broken by the unique id);
    // a one-value range is the degenerate all-equal band-0 case
    val genRows = for {
      span <- Gen.oneOf(0L, 3L, 2000000L)
      base <- Gen.choose(-1000L, 1000L)
      rows <- Gen.listOf(Gen.zip(Gen.choose(base, base + span), genW, genW))
    } yield rows
    checkProp(Prop.forAll(genRows) { rows: List[(Long, Option[Long], Option[Long])] =>
      val df = frameOf(rows)
      val asc = Seq(col("k"), col("id"))
      val desc = Seq(col("k").desc, col("id"))
      val fixed = Some((lit(-4294967296.0), lit(4294967296.0)))
      val wantAsc = reference(df, asc)
      val wantDesc = reference(df, desc)
      banded(df, col("k"), asc, None) == wantAsc &&
        banded(df, col("k"), asc, fixed) == wantAsc &&
        banded(df, -col("k"), desc, None) == wantDesc &&
        banded(df, -col("k"), desc, fixed) == wantDesc
    })
  }

  test("sumsBefore on one row and on an empty frame") {
    val one = frameOf(Seq((7L, Some(5L), None)))
    assert(banded(one, col("k"), Seq(col("k"), col("id")), None) === Map(0L -> (0L, 0L)))
    val empty = frameOf(Seq.empty)
    assert(banded(empty, col("k"), Seq(col("k"), col("id")), None) === Map.empty)
    assert(banded(empty, col("k"), Seq(col("k"), col("id")),
      Some((lit(0.0), lit(1.0)))) === Map.empty)
  }

  test("sumsBefore rejects a null key instead of ranking it silently") {
    val df = frameOf(Seq((1L, Some(1L), None), (2L, Some(1L), None)))
      .withColumn("k", when(col("id") === 1L, lit(null)).otherwise(col("k")))
    val e = intercept[IllegalArgumentException](
      Banding.sumsBefore(df, col("k"), Seq(col("k"), col("id")), weights))
    assert(e.getMessage.contains("must be non-null"), e.getMessage)
  }

  test("law: offsets equal the sequential strictly-preceding scan (sparse bands, 2 columns)") {
    val genBands = Gen.mapOf(Gen.zip(
      Gen.choose(0L, 1023L),
      Gen.zip(Gen.choose(0L, 1000000L), Gen.choose(0L, 1000000L))))
    checkProp(Prop.forAll(genBands) { bands: Map[Long, (Long, Long)] =>
      val rows = bands.toSeq.map { case (b, (x, y)) => (b, Seq(x, y)) }
      val got = offsetsOf(rows, 2)
      // naive reference: fold the band table in ascending bkt order
      var accX = 0L; var accY = 0L
      val want = rows.sortBy(_._1).map { case (b, Seq(x, y)) =>
        val o = b -> Seq(accX, accY); accX += x; accY += y; o
      }.toMap
      got == want
    })
  }

  test("offsets on an empty and a single-band table") {
    assert(offsetsOf(Seq.empty, 1) === Map.empty)
    assert(offsetsOf(Seq((7L, Seq(42L))), 1) === Map(7L -> Seq(0L)))
  }

  test("law: the q_lorenz integer decile arithmetic reproduces ntile(k)") {
    // ntile(k) over n rows: the first n%k buckets take ceil(n/k) rows,
    // the rest floor(n/k) — the reference implementation below is the
    // SQL-standard definition (mirrors Spark/DuckDB NTile)
    def ntileRef(i: Long, n: Long, k: Long): Long = {
      val sz = n / k; val rem = n % k
      if (i <= rem * (sz + 1)) (i - 1) / (sz + 1) + 1
      else {
        require(sz > 0); rem + (i - rem * (sz + 1) - 1) / sz + 1
      }
    }
    // cross-check ntileRef against Spark's own ntile once per n
    val genN = Gen.choose(1, 200)
    checkProp(Prop.forAll(genN) { n: Int =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val df = (1 to n).toDF("i")
        .withColumn("nt", ntile(10).over(Window.orderBy("i")))
        .collect().map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toMap
      (1 to n).forall { i =>
        df(i.toLong) == ntileRef(i.toLong, n.toLong, 10L)
      }
    })
  }
}
