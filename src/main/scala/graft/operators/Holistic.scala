package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Holistic aggregates — the reference's defining capability: `reducefn`
  * sees a key's ENTIRE value list at once (mincemeat.py:179-182), so users
  * write medians / top-k / arbitrary list folds directly.
  *
  * Two scalable Spark forms:
  *   - a typed `Aggregator` with a BOUNDED buffer (top-k heap) — constant
  *     memory per key, partial-aggregates map-side, safe at any key
  *     cardinality: the form the reference cannot express (its combiner
  *     output must be a single value, mincemeat.py:174-176);
  *   - `groupByKey.mapGroups` for genuinely-holistic folds (exact median):
  *     same per-key-fits-one-executor contract the reference has
  *     (SURVEY.md §7.5), minus its single-master bottleneck.
  */
object Holistic {

  /** Bounded top-k aggregator: buffer holds at most k values at every
    * stage (reduce AND merge), so the shuffle carries k doubles per
    * partial, not the value list.
    */
  final class TopKAgg(k: Int) extends Aggregator[Double, Seq[Double], Seq[Double]] {
    override def zero: Seq[Double] = Seq.empty
    // buffer invariant: sorted descending. A full buffer rejects a losing
    // row in O(1); a winning row inserts in place in O(k) — never the
    // O(k log k) full re-sort per input row of the naive trim(b :+ a).
    override def reduce(b: Seq[Double], a: Double): Seq[Double] =
      if (b.length >= k && a <= b.last) b
      else {
        val (lo, hi) = b.span(_ > a)
        (lo ++ (a +: hi)).take(k)
      }
    override def merge(x: Seq[Double], y: Seq[Double]): Seq[Double] = trim(x ++ y)
    override def finish(r: Seq[Double]): Seq[Double] = r
    private def trim(s: Seq[Double]): Seq[Double] = s.sortBy(-_).take(k)
    override def bufferEncoder: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
    override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
  }

  /** [[TopKAgg]] carrying a row id alongside the score: top-k by
    * (value DESC, id ASC) with the buffer bounded at k (value, id) pairs
    * through reduce AND merge — the skew-safe top-k-per-group shape. A
    * window row_number sorts each group in FULL on one task before
    * discarding all but k rows (a single hot key at 100 TB = one task
    * sorting that key's entire slice); this partial-aggregates map-side,
    * so the shuffle carries at most k pairs per (key, map partition) and
    * no task ever holds more than k buffered rows per key. The buffer is
    * kept sorted, so a full buffer rejects a losing row in O(1) and a
    * winning row inserts in place in O(k): O(n + w·k) per input
    * partition (w = buffer-improving rows, O(k log n) expected on random
    * order), any key skew flattened before the exchange.
    */
  final class TopKPairAgg(k: Int)
      extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    private val ord: Ordering[(Double, Long)] =
      Ordering.by { case (v, id) => (-v, id) }
    override def zero: Seq[(Double, Long)] = Seq.empty
    override def reduce(b: Seq[(Double, Long)], a: (Double, Long)): Seq[(Double, Long)] =
      if (b.length >= k && ord.gteq(a, b.last)) b
      else {
        val (lo, hi) = b.span(ord.lt(_, a))
        (lo ++ (a +: hi)).take(k)
      }
    override def merge(x: Seq[(Double, Long)], y: Seq[(Double, Long)]): Seq[(Double, Long)] =
      trim(x ++ y)
    override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r
    private def trim(s: Seq[(Double, Long)]): Seq[(Double, Long)] =
      s.sortBy { case (v, id) => (-v, id) }.take(k)
    override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
      ExpressionEncoder[Seq[(Double, Long)]]()
    override def outputEncoder: Encoder[Seq[(Double, Long)]] =
      ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** Misra-Gries heavy-hitters sketch as a mergeable typed Aggregator:
    * at most k counters at every stage, so a 100-TB token stream ships k
    * (word, count) pairs per partial instead of the full vocabulary.
    * Standard guarantees (Misra & Gries 1982; merge rule from Agarwal et
    * al., "Mergeable Summaries", PODS 2012): every item with true count
    * > N/(k+1) survives, and estimates undercount by at most N/(k+1).
    * The sketch is used for CANDIDATE PRUNING only — queries re-join the
    * candidates against the corpus for exact counts, so the final answer
    * is exact (and DuckDB-oracle-able) while the heavy groupBy shuffle
    * only ever carries <= k distinct keys.
    */
  final class MisraGriesAgg(k: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    override def zero: Map[String, Long] = Map.empty

    override def reduce(b: Map[String, Long], w: String): Map[String, Long] =
      b.get(w) match {
        case Some(c) => b.updated(w, c + 1L)
        case None if b.size < k => b.updated(w, 1L)
        // Full and w absent: decrement all counters, drop zeros (the
        // classic MG step — w itself is not inserted).
        case None => b.collect { case (x, c) if c > 1L => (x, c - 1L) }
      }

    // Mergeable-summaries rule: sum counters, then if over k survive,
    // subtract the (k+1)-th largest count from all and drop non-positive.
    override def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] = {
      val sum = y.foldLeft(x) { case (m, (w, c)) =>
        m.updated(w, m.getOrElse(w, 0L) + c)
      }
      if (sum.size <= k) sum
      else {
        val cut = sum.valuesIterator.toSeq.sorted(Ordering[Long].reverse)(k)
        sum.collect { case (w, c) if c > cut => (w, c - cut) }
      }
    }

    override def finish(r: Map[String, Long]): Map[String, Long] = r
    override def bufferEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  /** Median/MAD robust outlier flagging per group. Input columns:
    * (event_id, event_type, value). Both medians pass through
    * decimal(18,6) so downstream arithmetic starts from identical
    * doubles on any engine. Law-tested with planted outliers in
    * AnalyticsSpec.
    */
  def madOutliers(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    // Both medians ride the bounded 3-pass histogram walk
    // (exactQuantilesBy) instead of `percentile`, whose buffer holds the
    // group's ENTIRE column — event_type is 5 values, so each "group" is
    // a fifth of the corpus. Same type-7 values, decimal(18,6)-staged as
    // driver literals before the broadcast join.
    def med6By(df: org.apache.spark.sql.DataFrame, valCol: String,
        out: String): org.apache.spark.sql.DataFrame =
      exactQuantilesBy(df, Seq("event_type"), valCol, Seq(0.5))
        .map(g => (g.key.head.asInstanceOf[String], g.qs.head))
        .toDF("event_type", out)
        .select(col("event_type"),
          col(out).cast(DecimalType(18, 6)).cast(DoubleType).as(out))
    val med = med6By(e, "value", "med")
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
      .persist() // the MAD walk and the output pass both read it — without
                 // the cache the corpus would scan a third time
    val mad = med6By(dev, "dev", "mad")
    dev.join(broadcast(mad), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("dev"), 6).as("dev6"),
        (col("dev") > col("mad") * lit(3.0)).cast(IntegerType).as("is_outlier"))
  }

  /** Exact tie-aware AUC from (s: score, y: boolean label) rows via the
    * Mann-Whitney statistic over distinct-score counts: for each
    * distinct score (ascending), the tie group's average rank is
    * cum_before + (c+1)/2; U = Σ_pos avg_rank − nP(nP+1)/2;
    * AUC = U / (nP·nN). Every intermediate is an integer or half, so
    * double arithmetic is exact and order-independent.
    *
    * Scores are continuous, so the distinct-score frame grows with the
    * corpus — a naive `Window.orderBy(s)` prefix sum would serialize it
    * through one task. Instead cum_before is [[Banding.sumsBefore]] of
    * the counts: band boundaries only shape the plan, so the result is
    * bit-identical to the single-window form. byScore persists because
    * three branches (bounds, band partials, ranking) read it; released
    * under the harness cache-hygiene contract (Bench/Verify clearCache
    * between queries).
    */
  def aucExact(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val byScore = df.groupBy("s").agg(count(lit(1)).as("c"),
      sum(col("y").cast(LongType)).as("p"))
      .persist()
    val ranked = Banding.sumsBefore(byScore, col("s"), Seq(col("s")),
        Seq("cum_before" -> col("c")))
      .withColumn("avg_rank",
        col("cum_before") + (col("c") + lit(1L)) / lit(2.0))
    ranked.agg(sum(col("p")).as("n_pos"),
        sum(col("c") - col("p")).as("n_neg"),
        sum(col("p") * col("avg_rank")).as("pos_rank_sum"))
      .select(col("n_pos"), col("n_neg"),
        ((col("pos_rank_sum") - col("n_pos") * (col("n_pos") + lit(1L)) / lit(2.0))
          / (col("n_pos") * col("n_neg"))).as("auc"))
  }

  /** Per-group result of [[exactQuantilesBy]]: the group key values (in
    * `keys` order, empty for the global group), the non-null count, the
    * exact min/max, and one type-7 quantile per requested prob.
    */
  final case class GroupQuantiles(key: Seq[Any], n: Long, lo: Double,
      hi: Double, qs: Seq[Double])

  /** Exact interpolated quantiles with BOUNDED memory, per group — the
    * "exact median of 100 TB" shape that `percentile`'s collect-the-group
    * buffer cannot do (Percentile materializes its group's entire column
    * in one aggregation buffer). Three distributed passes, shared across
    * ALL groups:
    *   1. per-group min/max/count (group-cardinality-sized agg — the key
    *      domain must be dimension-sized, enforced below),
    *   2. ONE grouped fixed-width histogram (≤ groups×8192 bucket counts
    *      — the only driver materialization, bounded regardless of
    *      corpus size; each group banded over its own [lo, hi]),
    *   3. order-statistics: only the buckets containing a needed rank
    *      are probed, via [[rankValue]]'s cap-bounded recursion.
    * Interpolation matches quantile_cont / Spark `percentile` / type-7:
    * h = p·(n−1), v = v_lo + (v_hi − v_lo)·(h − ⌊h⌋). Nulls are excluded
    * (percentile semantics). Law-tested vs a sorted-array quantile and
    * vs `percentile` itself in AnalyticsSpec; all ranks exact longs.
    */
  def exactQuantilesBy(df: DataFrame, keys: Seq[String], valCol: String,
      probs: Seq[Double], buckets: Int = 8192): Seq[GroupQuantiles] = {
    // the histogram join below manufactures __gk*/__lo/__w/__b (and the
    // value lands in __x): a caller whose own columns use one of these
    // names would alias-collide SILENTLY in the null-safe join — fail
    // loudly instead (same spirit as the 4096-group require)
    val reserved = keys.indices.map(i => s"__gk$i").toSet ++
      Set("__lo", "__w", "__b", "__x")
    require(!(keys :+ valCol).exists(reserved.contains),
      s"exactQuantilesBy: column names ${(keys :+ valCol).filter(reserved.contains).mkString(", ")} " +
        "collide with the reserved __gk*/__lo/__w/__b/__x internals")
    val kc = keys.map(col)
    val x = df.select(kc :+ col(valCol).cast(DoubleType).as("__x"): _*)
      .filter(col("__x").isNotNull).persist()
    try {
      val stats = x.groupBy(kc: _*)
        .agg(min(col("__x")).as("lo"), max(col("__x")).as("hi"),
          count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val key = keys.indices.map(r.get).toSeq
          val n = r.getLong(keys.length + 2)
          // n FIRST: the global group of an empty input has null min/max
          if (n == 0L) (key, Double.NaN, Double.NaN, 0L)
          else (key, r.getDouble(keys.length), r.getDouble(keys.length + 1), n)
        }
      require(stats.length <= 4096, s"exactQuantilesBy: ${stats.length} " +
        "groups — the driver-side walk is bounded for DIMENSION-sized key " +
        "domains only; corpus-grain keys need the sketch path")
      // the driver bound is groups × buckets histogram rows: scale the
      // bucket count DOWN as the group count rises so the product stays
      // <= 2^22 (~4.2M collected rows worst-case, vs 4096×8192 = 33.5M
      // unscaled). Fewer buckets never costs exactness — only extra
      // narrowing recursion on pathologically dense buckets.
      val effBuckets = math.max(64,
        math.min(buckets, (1 << 22) / math.max(stats.length, 1)))
      // one histogram pass for every multi-valued group at once: the
      // per-group [lo, width] frame broadcasts back onto the stream and
      // each row lands in its own group's band
      val multi = stats.filter { case (_, lo, hi, n) => n > 0 && lo < hi }
      val histByKey: Map[Seq[Any], Map[Int, (Long, Double, Double)]] =
        if (multi.isEmpty) Map.empty
        else {
          // bounds key columns carry reserved names so the join can be
          // NULL-SAFE (<=>): a plain `join(..., keys)` drops null-keyed
          // groups here while the per-group probe below matches them
          // with <=>, and the two passes disagreeing turned a null group
          // into a histByKey NoSuchElementException
          val sch = StructType(keys.zipWithIndex.map { case (k, i) =>
            StructField(s"__gk$i", x.schema(k).dataType) } ++ Seq(
            StructField("__lo", DoubleType), StructField("__w", DoubleType)))
          val rows: java.util.List[org.apache.spark.sql.Row] =
            java.util.Arrays.asList(multi.map { case (key, lo, hi, _) =>
              org.apache.spark.sql.Row.fromSeq(key ++ Seq(lo, (hi - lo) / effBuckets))
            }: _*)
          val bounds = x.sparkSession.createDataFrame(rows, sch)
          val banded = if (keys.isEmpty) x.crossJoin(broadcast(bounds))
            else x.join(broadcast(bounds), keys.zipWithIndex.map {
              case (k, i) => col(k) <=> col(s"__gk$i") }.reduce(_ && _))
          // per-(group, bucket) count + exact content bounds: the bounds
          // seed the recursion (a single-value bucket terminates instantly
          // on mn == mx, which is exactly the skew case)
          banded
            .withColumn("__b", least(floor((col("__x") - col("__lo")) / col("__w")),
              lit(effBuckets - 1)).cast(IntegerType))
            .groupBy(kc :+ col("__b"): _*)
            .agg(count(lit(1)).as("c"), min("__x").as("mn"), max("__x").as("mx"))
            .collect()
            .groupBy(r => keys.indices.map(r.get).toSeq)
            .map { case (k, rs) => k -> rs.map(r =>
              r.getInt(keys.length) -> (r.getLong(keys.length + 1),
                r.getDouble(keys.length + 2), r.getDouble(keys.length + 3))).toMap }
        }
      stats.toSeq.map { case (key, lo, hi, n) =>
        if (n == 0L) GroupQuantiles(key, n, lo, hi, probs.map(_ => Double.NaN))
        else if (lo == hi) GroupQuantiles(key, n, lo, hi, probs.map(_ => lo))
        else {
          val hist = histByKey(key)
          val cumBefore = {
            var acc = 0L
            (0 until effBuckets).map { b =>
              val before = acc
              acc += hist.get(b).map(_._1).getOrElse(0L)
              b -> before
            }.toMap
          }
          // 1-based in-group ranks needed for all probs (lo & hi stats)
          val needs: Seq[(Double, Long, Long)] = probs.map { p =>
            val h = p * (n - 1)                    // type-7 index, 0-based
            (h, math.floor(h).toLong + 1, math.ceil(h).toLong + 1)
          }
          val xg = (if (keys.isEmpty) x
            else x.filter(keys.zip(key).map { case (k, v) => col(k) <=> lit(v) }
              .reduce(_ && _)))
            .select(col("__x").as("x"))
          val needed = needs.flatMap { case (_, r1, r2) => Seq(r1, r2) }
            .distinct.map { r =>
              r -> (0 until effBuckets).find(b => cumBefore(b) < r &&
                r <= cumBefore(b) + hist.get(b).map(_._1).getOrElse(0L)).get
            }
          // one collect per group for every CAP-SIZED bucket a rank needs
          // (bucket value ranges are disjoint, so rows re-assign to their
          // bucket unambiguously); only oversized buckets pay the
          // recursive narrowing. Cuts the common case from 2·|probs|
          // probe jobs per group to one, with the same driver bound
          // (≤ needed-buckets × BucketCap rows).
          val (small, big) = needed.partition { case (_, b) => hist(b)._1 <= BucketCap }
          val smallVals: Map[Long, Double] =
            if (small.isEmpty) Map.empty
            else {
              val bs = small.map(_._2).distinct
              val pred = bs.map { b =>
                val (_, mn, mx) = hist(b)
                col("x") >= mn && col("x") <= mx
              }.reduce(_ || _)
              val rows = xg.filter(pred).collect().map(_.getDouble(0))
              val byB = bs.map { b =>
                val (_, mn, mx) = hist(b)
                b -> rows.filter(v => v >= mn && v <= mx).sorted
              }.toMap
              small.map { case (r, b) =>
                r -> byB(b)((r - cumBefore(b)).toInt - 1)
              }.toMap
            }
          val valueAt = smallVals ++ big.map { case (r, b) =>
            val (c, mn, mx) = hist(b)
            r -> rankValue(xg, r - cumBefore(b), mn, mx, c, buckets)
          }.toMap
          GroupQuantiles(key, n, lo, hi, needs.map { case (h, r1, r2) =>
            val (vLo, vHi) = (valueAt(r1), valueAt(r2))
            vLo + (vHi - vLo) * (h - math.floor(h))
          })
        }
      }
    } finally x.unpersist()
  }

  /** Global (one-group) [[exactQuantilesBy]]: exact type-7 quantiles of
    * one column, bounded memory, returned as plain doubles for
    * broadcast-as-literal cutpoint plans (q_equidepth / q_winsorize /
    * q_psi / q_ccnet_buckets / q_rfm).
    */
  def exactQuantiles(df: DataFrame, valCol: String, probs: Seq[Double],
      buckets: Int = 8192): Seq[Double] =
    exactQuantilesBy(df, Nil, valCol, probs, buckets).head.qs

  /** Back-compat name used by q_quantiles_2pass + the AnalyticsSpec law:
    * the same machinery over a frame whose value column is `x`.
    */
  def exactQuantiles2Pass(xs: org.apache.spark.sql.DataFrame,
      probs: Seq[Double], buckets: Int = 8192): Seq[Double] =
    exactQuantiles(xs, "x", probs, buckets)

  /** Driver-bounded collect cap for the order-statistics recursion: no
    * more than this many rows ever reach the driver, regardless of value
    * skew in the input.
    */
  private val BucketCap = 65536L

  /** The r-th smallest value (r 1-based) among the m rows of `x` whose
    * value lies in [lo, hi]. Never ships more than [[BucketCap]] rows to
    * the driver: an oversized bucket is re-histogrammed WITHIN its value
    * range and the rank chased into the sub-bucket — under the worst
    * skew (one dominant value) the sub-bucket containing it reports
    * mn == mx and terminates in O(1) without collecting anything. Each
    * level is one scan of the persisted column; depth is bounded by the
    * range-narrowing (mn/mx are exact content bounds, so the interval
    * strictly shrinks while >= 2 distinct values remain).
    */
  private def rankValue(x: org.apache.spark.sql.DataFrame, r: Long,
      lo: Double, hi: Double, m: Long, buckets: Int, depth: Int = 0): Double = {
    if (lo == hi) return lo
    val width = (hi - lo) / buckets
    if (m <= BucketCap || depth >= 64 || width <= 0 ||
        !java.lang.Double.isFinite(width)) {
      // small (or pathologically narrow) bucket: TakeOrdered ships exactly
      // r <= m <= cap rows; the >= 64-depth / zero-width branches only
      // arise when hi - lo is a handful of ulps, so m rows of near-equal
      // doubles — if even that is oversized, a windowed rank probe keeps
      // the driver at ONE row
      if (r <= BucketCap)
        x.filter(col("x") >= lo && col("x") <= hi)
          .orderBy("x").limit(r.toInt).collect().last.getDouble(0)
      else {
        // DELIBERATE unpartitioned window, invisible to the PlanShapeSpec
        // inventory sweep (driver-side and data-dependent — it only
        // plans when > BucketCap rows sit within a handful of ulps, i.e.
        // > 65536 near-identical doubles): the single-partition sort is
        // bounded by exactly that near-constant bucket, never the
        // corpus, and ships ONE row to the driver. AnalyticsSpec
        // exercises this branch directly (rankValue degenerate-bucket
        // law) since no fixture data ever will.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1)).orderBy("x")
        x.filter(col("x") >= lo && col("x") <= hi)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === r).head().getDouble(0)
      }
    } else {
      val bCol = least(floor((col("x") - lit(lo)) / lit(width)),
        lit(buckets - 1)).cast(IntegerType)
      val hist = x.filter(col("x") >= lo && col("x") <= hi)
        .groupBy(bCol.as("b"))
        .agg(count(lit(1)).as("c"), min("x").as("mn"), max("x").as("mx"))
        .collect()
        .map(rw => rw.getInt(0) -> (rw.getLong(1), rw.getDouble(2), rw.getDouble(3)))
        .toMap
      var acc = 0L
      var out = Double.NaN
      var b = 0
      while (b < buckets && out.isNaN) {
        val (c, mn, mx) = hist.getOrElse(b, (0L, 0.0, 0.0))
        if (acc < r && r <= acc + c)
          out = rankValue(x, r - acc, mn, mx, c, buckets, depth + 1)
        acc += c
        b += 1
      }
      out
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Heavy hitters (frequent words above 0.5% of the token stream) via
    // sketch-then-verify: the MG sketch (k=256 counters, guarantee
    // threshold N/257 < 0.5%·N) nominates <= 256 candidates in one
    // map-combining pass; the exact pass filters the token stream against
    // the broadcast candidate set BEFORE its groupBy, so neither pass
    // shuffles the full vocabulary. Output is exact => full DuckDB oracle,
    // unlike a sketch-only answer.
    "q_heavy_hitters" -> ((s, dir) => {
      val mg = udaf(new MisraGriesAgg(256), Encoders.STRING)
      val words = graft.Tables(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
      // n_total rides the sketch pass (total corpus scans: 2, not 3)
      val cand = words.agg(mg(col("word")).as("sketch"),
          count(lit(1)).as("n_total"))
        .select(explode(map_keys(col("sketch"))).as("word"), col("n_total"))
      words.join(broadcast(cand), "word")
        .groupBy("word").agg(count(lit(1)).as("cnt"),
          max(col("n_total")).as("n_total"))
        .filter(col("cnt") >= col("n_total") * lit(0.005))
        .select(col("word"), col("cnt"),
          (col("cnt") / col("n_total")).as("freq"))
    }),

    // Top-3 quantities per returnflag via the bounded-buffer Aggregator,
    // exploded to one (flag, rank, value) row per element: scalar-only
    // top-level schema (driver comparator) AND an exact oracle — the
    // DuckDB row_number form yields the same descending multiset.
    "q_topk_custom_agg" -> ((s, dir) => {
      val top3 = udaf(new TopKAgg(3), Encoders.scalaDouble)
      graft.Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(top3(col("l_quantity")).as("top3"))
        .select(col("l_returnflag"), posexplode(col("top3")).as(Seq("pos", "qty")))
        .select(col("l_returnflag"),
          (col("pos") + 1).cast(IntegerType).as("rnk"), col("qty"))
    }),

    // q_topk_per_group's skew-safe twin (round-6 brief): identical output
    // — top-3 orders per customer by (totalprice DESC, orderkey) — but
    // computed with the BOUNDED-HEAP Aggregator instead of a per-group
    // window sort. The window form sorts every group in full on one task;
    // this one partial-aggregates k-pair buffers map-side before the
    // shuffle (pinned in PlanShapeSpec: Partial+Final ObjectHashAggregate,
    // zero Window/Sort below the exchange), so a hot customer costs
    // O(n log k), not a single-task full sort. Oracled against the same
    // row_number SQL as q_topk_per_group — the outputs are row-identical.
    "q_topk_per_group_heap" -> ((s, dir) => {
      val top3 = udaf(new TopKPairAgg(3),
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
      graft.Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(top3(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "x")))
        .select(col("o_custkey"), col("x._2").as("o_orderkey"),
          col("x._1").as("o_totalprice"),
          (col("pos") + 1).cast(IntegerType).as("rn"))
    }),

    // Sketch-based quantiles: the 100 TB path for q_median_typed. The
    // KLL-style percentile_approx buffer is bounded (accuracy param 10k)
    // and merges map-side, so no key ever materializes its value list —
    // rows-only check (sketch internals are engine-specific); spec pins
    // |approx - exact| against the exact median.
    "q_percentile_approx" -> ((s, dir) =>
      graft.Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
          .as("p50_approx"))),

    // Robust anomaly detection: median / MAD outlier flagging per
    // event_type (the standard robust z-score — immune to the outliers
    // it hunts, unlike mean/stddev). Both median passes ride the bounded
    // grouped histogram walk (exactQuantilesBy) — EXACT type-7 medians
    // with ≤ 5×8192 driver-side bucket counts, never a whole-column
    // Percentile buffer — and each 5-row result broadcasts back onto the
    // stream, so the corpus itself never shuffles.
    // Medians pass through decimal(18,6) on both engines so the per-row
    // |value - med| arithmetic starts from identical doubles.
    "q_outlier_mad" -> ((s, dir) =>
      madOutliers(graft.Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value")))),

    // Exact AUC (Mann-Whitney rank-sum) of `value` as a score for the
    // purchase event — the model-eval metric a training pipeline ends
    // with. Computed from per-DISTINCT-VALUE counts, not per-row ranks,
    // with the cumulative ranks distributed by the banded two-level
    // prefix sum (see aucExact): the only unpartitioned window runs on
    // the ≤1024-row band-offset table, never at corpus grain. Ranks are
    // integer-or-half values and every partial sum stays far below
    // 2^52, so the fold is EXACT in doubles — order-independent, no
    // rounding anywhere.
    // Null scores are excluded EXPLICITLY on both engines (none exist in
    // the fixture): a null has no rank, and the engines' null-ordering
    // defaults differ (Spark windows NULLS FIRST, DuckDB NULLS LAST), so
    // the only parity-safe contract is to define AUC over non-null
    // scores — which also satisfies the banded plan's non-null band-key
    // precondition (Banding.sumsBefore).
    "q_auc" -> ((s, dir) =>
      aucExact(graft.Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("value").as("s"),
          (col("event_type") === "purchase").as("y")))),

    // Exact global p50/p95/p99 of a 6M-row-scale column via the bounded
    // histogram walk (see exactQuantiles2Pass) — contrast with
    // q_percentile, whose exact aggregate buffers a whole group's values.
    // Decimal(18,6)-staged like q_percentile so interpolation ulps never
    // reach the comparator.
    "q_quantiles_2pass" -> ((s, dir) => {
      import s.implicits._
      val qs = exactQuantiles2Pass(
        graft.Tables(s, dir, "lineitem").select(col("l_extendedprice").as("x")),
        Seq(0.5, 0.95, 0.99))
      Seq((qs(0), qs(1), qs(2))).toDF("p50", "p95", "p99")
        .select(
          col("p50").cast(DecimalType(18, 6)).cast(DoubleType).as("p50"),
          col("p95").cast(DecimalType(18, 6)).cast(DoubleType).as("p95"),
          col("p99").cast(DecimalType(18, 6)).cast(DoubleType).as("p99"))
    }),

    // Exact interpolated median via groupByKey.mapGroups — the faithful
    // "whole list in one reducefn" form. Interpolation shape matches
    // quantile_cont: lo + (hi - lo) * frac.
    "q_median_typed" -> ((s, dir) => {
      import s.implicits._
      graft.Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"))
        .as[(String, Double)]
        .groupByKey(_._1)
        .mapGroups { (flag, it) =>
          val vs = it.map(_._2).toArray
          java.util.Arrays.sort(vs)
          val n = vs.length
          val median =
            if (n % 2 == 1) vs(n / 2)
            else vs(n / 2 - 1) + (vs(n / 2) - vs(n / 2 - 1)) * 0.5
          (flag, median)
        }
        .toDF("l_returnflag", "median_qty")
        .select(col("l_returnflag"),
          col("median_qty").cast(DecimalType(18, 4)).cast(DoubleType).as("median_qty"))
    })
  )

  val oracles: Map[String, String] = Map(
    // The sketch is candidate-pruning only; the registered output is the
    // exact frequent-word set, so plain SQL reproduces it.
    "q_heavy_hitters" ->
      """WITH w AS (
           SELECT word FROM (
             SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
             FROM documents) WHERE length(word) > 0),
         c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
         t AS (SELECT count(*) AS n_total FROM w)
         SELECT word, cnt, CAST(cnt AS DOUBLE) / n_total AS freq
         FROM c, t WHERE cnt >= n_total * 0.005""",

    // row_number descending = the Aggregator's sorted buffer positions;
    // ties are value-identical so the (flag, rnk, qty) multiset agrees.
    "q_topk_custom_agg" ->
      """SELECT l_returnflag, CAST(rnk AS INTEGER) AS rnk, qty FROM (
           SELECT l_returnflag, l_quantity AS qty,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_quantity DESC) AS rnk
           FROM lineitem)
         WHERE rnk <= 3""",

    // Same SQL shape as q_topk_per_group's oracle: the bounded-heap
    // aggregator's (value DESC, id ASC) trim rule IS row_number's order.
    "q_topk_per_group_heap" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
         FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders
         ) WHERE rn <= 3""",

    "q_median_typed" ->
      """SELECT l_returnflag,
         CAST(CAST(quantile_cont(l_quantity, 0.5) AS DECIMAL(18,4)) AS DOUBLE) AS median_qty
         FROM lineitem GROUP BY l_returnflag""",

    // One-shot quantile_cont — the bounded-memory histogram walk must
    // reproduce it exactly (same type-7 interpolation, same staging).
    "q_quantiles_2pass" ->
      """SELECT
         CAST(CAST(quantile_cont(l_extendedprice, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS p50,
         CAST(CAST(quantile_cont(l_extendedprice, 0.95) AS DECIMAL(18,6)) AS DOUBLE) AS p95,
         CAST(CAST(quantile_cont(l_extendedprice, 0.99) AS DECIMAL(18,6)) AS DOUBLE) AS p99
         FROM lineitem""",

    // Same distinct-score prefix-sum form; all ranks are integer-or-half
    // values so every sum is exact in doubles on both engines.
    "q_auc" ->
      """WITH b AS (
           SELECT value AS s, count(*) AS c,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS p
           FROM events WHERE value IS NOT NULL GROUP BY value),
         r AS (
           SELECT s, c, p,
             coalesce(sum(c) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM b),
         a AS (
           SELECT CAST(sum(p) AS BIGINT) AS n_pos,
             CAST(sum(c - p) AS BIGINT) AS n_neg,
             sum(p * (cum_before + (c + 1) / 2.0)) AS pos_rank_sum
           FROM r)
         SELECT n_pos, n_neg,
           (pos_rank_sum - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg) AS auc
         FROM a""",

    // Same decimal(18,6) staging of both medians, so dev and the 3*MAD
    // threshold are computed from bit-identical doubles on both engines.
    "q_outlier_mad" ->
      """WITH med AS (
           SELECT event_type,
             CAST(CAST(quantile_cont(value, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS med
           FROM events GROUP BY event_type),
         dev AS (
           SELECT e.event_id, e.event_type, e.value,
             abs(e.value - med.med) AS dev
           FROM events e JOIN med USING (event_type)),
         mad AS (
           SELECT event_type,
             CAST(CAST(quantile_cont(dev, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS mad
           FROM dev GROUP BY event_type)
         SELECT d.event_id, d.event_type, d.value,
           round(d.dev, 6) AS dev6,
           CAST(d.dev > mad.mad * 3.0 AS INTEGER) AS is_outlier
         FROM dev d JOIN mad USING (event_type)"""
  )
}
