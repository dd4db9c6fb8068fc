package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** The two-level banded distributed prefix sum — the scale-safe
  * replacement for `Window.orderBy(...)` ranks and running sums over
  * corpus-sized tables. The algorithm lives only here; every global
  * rank or running sum in the engine is a [[sumsBefore]] call:
  *  - Text: the md5-keyed pack prefix sum (`packCumBefore`, shared by
  *    q_pack_sequences / q_pack_emit / q_pack_masked, `packedSegmentsOf`
  *    and q_corpus_shuffle's rank), the symbol-id rank (`symtabOf`),
  *    q_zipf's and q_encode_ids' frequency ranks;
  *  - Mining: the q_gini / q_lorenz revenue rank;
  *  - Stats: q_ks_2samp's ECDFs;
  *  - Holistic: `aucExact`'s Mann-Whitney ranks (q_auc).
  *
  * Shape: rows band into ≤ B value-range buckets; per-band partial
  * sums roll up on the B-bounded band table; the strictly-preceding
  * band offsets then turn every within-band cumulative window into an
  * independent `partitionBy(band)` partition. The only global structure
  * is the band table itself.
  *
  * Reference precedent: the reference's single master collects EVERY
  * reduce result into one dict (mincemeat.py:74-75); here even the
  * global-ordering metadata is B-bounded by construction.
  */
object Banding {

  private val Band = "_band"
  private val Lo = "_band_lo"
  private val Hi = "_band_hi"

  /** For each `(name, weight)` in `sums`, adds column `name`: the sum of
    * `weight` (a long; null reads as 0) over all rows strictly before
    * the row in the total order `order`. A rank is `before(1) + 1`, an
    * inclusive running sum `before(w) + w`; both equal the single-window
    * `row_number()` / running sum because `order` is total (break ties
    * with a unique column).
    *
    * Rows band on `key`, a NON-NULL numeric column that is
    * non-decreasing along `order` (a descending order passes the
    * negated value), so equal keys never straddle a band and the bands
    * only shape the plan. `bounds` is the key's (min, max) when the
    * caller knows it — literals, or columns of a one-row aggregate
    * already crossed into `df`; otherwise one broadcast min/max
    * aggregate over `df` computes it. Every `df` column passes through;
    * the band columns are dropped. `df` is read twice (band partials,
    * then the ranked rows) — three times without `bounds` — so an
    * expensive input is the caller's to persist.
    */
  def sumsBefore(df: DataFrame, key: Column, order: Seq[Column],
      sums: Seq[(String, Column)],
      bounds: Option[(Column, Column)] = None): DataFrame = {
    require(sums.nonEmpty, "sumsBefore needs at least one weight")
    val k = key.cast(DoubleType)
    val (framed, lo, hi) = bounds match {
      case Some((l, h)) => (df, l, h)
      case None => (df.crossJoin(broadcast(df.agg(min(k).as(Lo), max(k).as(Hi)))),
        col(Lo), col(Hi))
    }
    val ws = sums.indices.map(i => s"_band_w$i")
    val offs = sums.indices.map(i => s"_band_off$i")
    val banded = framed
      .withColumn(Band, bucketize(k, lo.cast(DoubleType), hi.cast(DoubleType)))
      .withColumns(ws.zip(sums.map { case (_, w) =>
        coalesce(w.cast(LongType), lit(0L)) }).toMap)
      .drop(Lo, Hi)
    val partials = ws.zip(offs).map { case (w, o) => sum(col(w)).as(o) }
    val off = offsets(banded.groupBy(Band).agg(partials.head, partials.tail: _*), offs)
    val wIn = Window.partitionBy(Band).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    banded.join(broadcast(off), Band)
      .withColumns(ListMap(sums.map(_._1).zip(ws.zip(offs).map { case (w, o) =>
        coalesce(sum(col(w)).over(wIn), lit(0L)) + col(o) }): _*))
      .drop(Band +: (ws ++ offs): _*)
  }

  /** Band assignment of a double `x` given the bounds `lo`/`hi`:
    * ≤1024 value-range buckets, a degenerate range collapses to band 0.
    * Monotone in `x` (floor of an affine map), so equal values can never
    * straddle a band. A null `x` gets a null band, which [[offsets]]
    * rejects: `least` skips nulls, so without the guard a null key would
    * rank silently in the last band.
    */
  private def bucketize(x: Column, lo: Column, hi: Column): Column =
    when(x.isNull, lit(null).cast(LongType))
      .when(hi <= lo, lit(0L))
      .otherwise(least(floor((x - lo) / ((hi - lo) / lit(1024.0))),
        lit(1023L)).cast(LongType))

  /** Strictly-preceding prefix sums over a band-bounded partials table.
    *
    * `bands` must have the band id as its FIRST column followed by one
    * or more Long partial-sum columns; `outNames` names the returned
    * offset columns positionally. The band table is ≤ B rows BY
    * CONSTRUCTION ([[bucketize]] caps the band at B-1), so the collect
    * is driver-bounded the same way the Holistic.exactQuantiles2Pass
    * histogram is — this is metadata, not data. Folding the offsets on
    * the driver instead of an unpartitioned running-sum window removes
    * the one remaining single-task window AND its shuffle; the result
    * comes back as a LocalRelation, so the subsequent broadcast join
    * ships it without an extra job. All partials are exact longs, so the
    * fold is order-insensitive integer arithmetic.
    */
  private[graft] def offsets(bands: DataFrame, outNames: Seq[String]): DataFrame = {
    val spark = bands.sparkSession
    val collected = bands.collect()
    collected.foreach(r => require(!r.isNullAt(0),
      "null band id reached Banding.offsets: sumsBefore's key must be non-null"))
    val rows = collected.sortBy(_.getLong(0))
    val acc = Array.fill(outNames.size)(0L)
    val out = new java.util.ArrayList[Row](rows.length)
    rows.foreach { r =>
      val offs = acc.toSeq
      outNames.indices.foreach(i => acc(i) += r.getLong(i + 1))
      out.add(Row.fromSeq(r.getLong(0) +: offs))
    }
    val schema = StructType(StructField(Band, LongType, nullable = false) +:
      outNames.map(n => StructField(n, LongType, nullable = false)))
    spark.createDataFrame(out, schema)
  }
}
