package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.{AccumulatorV2, LongAccumulator}

import graft.Tables
import graft.mr.MapReduceJob

/** Largest value seen. */
final class MaxAccumulator extends AccumulatorV2[Long, Long] {
  private var m = 0L
  def isZero: Boolean = m == 0L
  def copy(): MaxAccumulator = { val c = new MaxAccumulator; c.m = m; c }
  def reset(): Unit = m = 0L
  def add(v: Long): Unit = if (v > m) m = v
  def merge(o: AccumulatorV2[Long, Long]): Unit = add(o.value)
  def value: Long = m
}

/** Record counts of the paper's phases, summed over the jobs of a run. */
final class MrCounters(sc: SparkContext) extends Serializable {
  val mapOut: LongAccumulator = sc.longAccumulator("mr.map.records_out")
  val combineOut: LongAccumulator = sc.longAccumulator("mr.combine.records_out")
  val groups: LongAccumulator = sc.longAccumulator("mr.reduce.groups")
  val maxValues: MaxAccumulator = {
    val a = new MaxAccumulator; sc.register(a, "mr.reduce.max_values"); a
  }

  /** Counts every (k2, v2) mapfn emits; without a combiner each one goes
    * to the shuffle as is, so it also counts as a combine output. */
  def map[K1, V1, K2, V2](f: (K1, V1) => IterableOnce[(K2, V2)], combined: Boolean)
      : (K1, V1) => IterableOnce[(K2, V2)] = {
    val (out, comb) = (mapOut, combineOut)
    (k, v) => f(k, v).iterator.map { kv => out.add(1); if (!combined) comb.add(1); kv }
  }

  def collect[K, V](f: (K, Seq[V]) => V): (K, Seq[V]) => V = {
    val comb = combineOut
    (k, vs) => { comb.add(1); f(k, vs) }
  }

  def reduce[K, V](f: (K, Seq[V]) => V): (K, Seq[V]) => V = {
    val (g, mx) = (groups, maxValues)
    (k, vs) => { g.add(1); mx.add(vs.size.toLong); f(k, vs) }
  }
}

/** The MapReduce queries of `mr_corpus`, rebuilt through MapReduceJob's
  * public constructor with counting wrappers around mapfn, collectfn and
  * reducefn, for the per-phase record counts. The functions copy those
  * of graft.operators.Text/Joins; each job returns the same columns as
  * the program's query, so the harness checks the copy against the
  * program by output digest. */
object MrTrace {
  final case class Tag(side: Int, name: String, okey: Long)

  /** The program's MapReduce queries, in `mr_corpus` order. */
  val queries: Seq[String] = Seq("q_mr_wordcount", "q_mr_chained", "q_mr_inverted", "q_mr_join")

  private def wordcount(c: MrCounters) = MapReduceJob[Long, String, String, Long](
    mapfn = c.map((_: Long, text: String) =>
      text.split("\\s+").iterator.filter(_.nonEmpty).map(w => (w, 1L)), combined = true),
    reducefn = c.reduce((_: String, vs: Seq[Long]) => vs.sum),
    collectfn = Some(c.collect((_: String, vs: Seq[Long]) => vs.sum)))

  /** (query, its counting copy) per query of [[queries]]. */
  def jobs(spark: SparkSession, data: String, c: MrCounters): Seq[(String, () => DataFrame)] = {
    import spark.implicits._
    def docs = Tables(spark, data, "documents").select("doc_id", "text").as[(Long, String)].rdd
    def merge(vs: Seq[String]): String = vs.iterator.flatMap(_.split("-"))
      .map(_.toLong).toSeq.distinct.sorted.mkString("-")
    Seq(
      "q_mr_wordcount" -> (() => wordcount(c).resultRDD(docs).toDF("word", "cnt")),
      "q_mr_chained" -> (() => {
        val countOfCounts = MapReduceJob[String, Long, Long, Long](
          mapfn = c.map((_: String, cnt: Long) => Iterator((cnt, 1L)), combined = true),
          reducefn = c.reduce((_: Long, vs: Seq[Long]) => vs.sum),
          collectfn = Some(c.collect((_: Long, vs: Seq[Long]) => vs.sum)))
        countOfCounts.resultRDD(wordcount(c).resultRDD(docs)).toDF("cnt", "n_words")
      }),
      "q_mr_inverted" -> (() => {
        val job = MapReduceJob[Long, String, String, String](
          mapfn = c.map((id: Long, text: String) => text.split("\\s+").iterator
            .filter(_.nonEmpty).map(w => (w, id.toString)), combined = true),
          reducefn = c.reduce((_: String, vs: Seq[String]) => merge(vs)),
          collectfn = Some(c.collect((_: String, vs: Seq[String]) => merge(vs))))
        job.resultRDD(docs).toDF("word", "postings")
      }),
      "q_mr_join" -> (() => {
        val cust = Tables(spark, data, "customer")
          .select("c_custkey", "c_name").as[(Long, String)].rdd
          .map { case (ck, n) => (ck, Vector(Tag(0, n, 0L))) }
        val ords = Tables(spark, data, "orders")
          .select("o_custkey", "o_orderkey").as[(Long, Long)].rdd
          .map { case (ck, ok) => (ck, Vector(Tag(1, "", ok))) }
        val job = MapReduceJob[Long, Vector[Tag], Long, Vector[Tag]](
          mapfn = c.map((ck: Long, tagged: Vector[Tag]) => Iterator.single((ck, tagged)),
            combined = false),
          reducefn = c.reduce((_: Long, vs: Seq[Vector[Tag]]) => {
            val all = vs.flatten
            val cs = all.filter(_.side == 0)
            val os = all.filter(_.side == 1)
            for { cu <- cs.toVector; o <- os } yield Tag(2, cu.name, o.okey)
          }))
        job.resultRDD(cust.union(ords))
          .flatMap { case (ck, rows) => rows.map(t => (ck, t.name, t.okey)) }
          .toDF("c_custkey", "c_name", "o_orderkey")
      }))
  }
}
