package graft.functions

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity over two `array<float>` columns as a native Catalyst
  * expression with whole-stage codegen — the hot inner loop of the ANN /
  * near-dup scans. A Scala UDF here would force serialization of every
  * vector out of Tungsten rows; this reads floats directly from the
  * columnar `ArrayData` and stays inside the generated code.
  *
  * Math shape is fixed (sequential fold, double accumulation,
  * `dot / (sqrt(na) * sqrt(nb))`) so results are bit-identical to the
  * DuckDB oracle, which folds in the same order.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xf = x.getFloat(i).toDouble
      val yf = y.getFloat(i).toDouble
      dot += xf * yf; na += xf * xf; nb += yf * yf
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      int n = java.lang.Math.min($a.numElements(), $b.numElements());
      double dot = 0.0, na = 0.0, nb = 0.0;
      for (int i = 0; i < n; i++) {
        double xf = (double) $a.getFloat(i);
        double yf = (double) $b.getFloat(i);
        dot += xf * yf; na += xf * xf; nb += yf * yf;
      }
      ${ev.value} = dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb));
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** graft's SQL-callable functions: the one (name, builder) table.
  * [[graft.GraftExtensions]] is its one installer, and
  * [[graft.GraftSession.local]] applies it to every graft session.
  */
object GraftFunctions {
  // optional second arg = window width, so call sites keep their local
  // k as the single source of truth instead of silently coupling to
  // the expression's default; it must be a CONSTANT (folded into
  // codegen) — a non-foldable arg would eval against a null row here
  // and die with an opaque ClassCastException, so reject it by name
  private def constWidth(exprs: Seq[Expression], fn: String): Int =
    if (exprs.length <= 1) 4
    else if (!exprs(1).foldable) throw new IllegalArgumentException(
      s"$fn: the width argument must be a constant integer, got ${exprs(1).sql}")
    else exprs(1).eval(null) match {
      case n: Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"$fn: the width argument must be a constant integer, got $other")
    }

  // second argument REQUIRED for the profile/battery functions
  // (round-14 review): constWidth's silent 4 default is
  // span_md5_ids' window, semantically meaningless here (profiles
  // use a rank depth K=150, the battery n=2..10) — an omitted
  // argument must be a clear arity error, not a silently-wrong
  // 4-wide computation. `paramName` keeps the diagnostic honest per
  // function (K is a rank DEPTH, not a window width), and the arity
  // check runs BEFORE any exprs.head access so a zero-argument call
  // also gets the real message instead of head-of-empty-Seq.
  private def reqSecond(exprs: Seq[Expression], fn: String, paramName: String): Int = {
    if (exprs.length != 2) throw new IllegalArgumentException(
      s"$fn requires exactly two arguments (input, constant $paramName), " +
        s"got ${exprs.length}")
    constWidth(exprs, fn)
  }

  val all: Seq[(String, FunctionBuilder)] = Seq(
    "cosine_sim" -> (es => CosineSimilarity(es(0), es(1))),
    "poly_hash" -> (es => PolyTokenHash(es.head)),
    "ngram_hashes" -> (es => NgramHashes(es.head)),
    "minhash64" -> (es => MinHashFromHashes(es.head)),
    "hyperplane_bits" -> (es => HyperplaneBits(es.head)),
    "simhash64_fp" -> (es => SimHash64(es.head)),
    "try_parse_int" -> (es => TryParseInt(es.head)),
    "jaro_winkler" -> (es => JaroWinkler(es(0), es(1))),
    "span_md5s" -> (es => SpanMd5s(es.head)),
    "bigram_md5_buckets" -> (es => BigramMd5Buckets(es.head)),
    "span_md5_ids" -> (es => SpanMd5Ids(es.head, constWidth(es, "span_md5_ids"))),
    "rep_rle_stats" -> (es => RepRleStats(es.head)),
    "trigram_rank_profile" -> { es =>
      val k = reqSecond(es, "trigram_rank_profile", "rank depth k")
      TrigramRankProfile(es.head, k)
    },
    "trigram_profile_size" -> { es =>
      val k = reqSecond(es, "trigram_profile_size", "rank depth k")
      TrigramProfileSize(es.head, k)
    },
    "rep_gram_stats" -> { es =>
      val n = reqSecond(es, "rep_gram_stats", "window width n")
      RepGramStats(es.head, n)
    },
    "chunk_md5_ids64" -> (es => ChunkMd5Ids64(es.head, constWidth(es, "chunk_md5_ids64"))),
    "char_entropy_stats" -> (es => CharEntropyStats(es.head)),
    "eval_once" -> (es => EvalOnce(es.head)),
    "span_mask_stats" -> { es =>
      if (es.length != 2) throw new IllegalArgumentException(
        "span_mask_stats requires exactly two arguments " +
          s"(tokens, intervals), got ${es.length}")
      SpanMaskStats(es.head, es(1))
    },
    // Spark ships BloomFilterAggregate / BloomFilterMightContain for its
    // internal runtime-filter rewrite but does not register them as SQL
    // functions; surface them for the bloom-accelerated dedup pipeline
    // (the same pair InjectRuntimeFilter plants — q_join_bloom pins that).
    "bloom_filter_agg" -> (es =>
      new BloomFilterAggregate(es(0), es(1), es(2)).toAggregateExpression()),
    "bloom_might_contain" -> (es => BloomFilterMightContain(es(0), es(1))))
}
