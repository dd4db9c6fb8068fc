package graft.mr

import scala.collection.{immutable, mutable}
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD

/** The fidelity core: the reference's entire user API, typed.
  *
  * The reference (mincemeat.py) is a lightweight distributed MapReduce
  * framework whose user surface is exactly three functions:
  *
  *   - `mapfn(k, v)` — a generator of (k2, v2) pairs (mincemeat.py:167-173);
  *   - `collectfn(k2, values)` — an OPTIONAL per-map-task combiner whose
  *     single result is re-wrapped as a singleton list (mincemeat.py:174-176);
  *   - `reducefn(k2, values)` — sees the ENTIRE value list for one key at
  *     once and returns one result (mincemeat.py:179-182).
  *
  * Spark restatement (SURVEY.md §7.1): `flatMap` → optional per-partition
  * hash-group combine → `groupByKey` → `mapValues(reducefn)`. We use
  * `groupByKey`, NOT `reduceByKey`: `reducefn` is holistic — it is never
  * required to be associative or commutative, and it observes the whole
  * list (mincemeat.py:181). Users who know their reducer is associative
  * should use [[MapReduceJob.associative]], which lowers to `reduceByKey`
  * (map-side partial aggregation, no value-list materialization) and is the
  * 100 TB-safe path for high-cardinality / skewed keys.
  *
  * Scale contract (SURVEY.md §7.5): the holistic path materializes one
  * key's full value list on a single executor — same contract the
  * reference imposes (its master holds ALL keys' lists in RAM,
  * mincemeat.py:344-347; we only ever hold one partition's worth).
  *
  * Keys group by their own `equals`/`hashCode` on both sides: the
  * per-task combine group is a `java.util.HashMap`, as Spark's shuffle
  * and `groupByKey` are, so a combiner never merges keys the shuffle keeps
  * apart (`0.0` and `-0.0`) or splits keys it merges (`NaN`). The `Seq`
  * handed to `collectfn` and `reducefn` is an array-backed view of that
  * key's values; on the map side it is in emission order (mincemeat.py:
  * 169-176 appends in order), on the reduce side in shuffle-arrival order.
  *
  * Unlike the reference, functions here are plain Scala closures shipped
  * by Spark's closure serializer — the reference's "no access to enclosing
  * environment" restriction (README.md:93-96) does not apply.
  *
  * @param mapfn     (k1, v1) => iterator of (k2, v2)   [mincemeat.py:167-173]
  * @param reducefn  (k2, all values) => result          [mincemeat.py:179-182]
  * @param collectfn optional combiner, output type = value type
  *                  (singleton-list rewrap semantics)   [mincemeat.py:174-176]
  */
final case class MapReduceJob[K1, V1, K2: ClassTag, V2: ClassTag](
    mapfn: (K1, V1) => IterableOnce[(K2, V2)],
    reducefn: (K2, Seq[V2]) => V2,
    collectfn: Option[(K2, Seq[V2]) => V2] = None) extends Serializable {

  /** Distributed result as an RDD — the scalable output surface. */
  def resultRDD(data: RDD[(K1, V1)]): RDD[(K2, V2)] = {
    val mapped = data.flatMap { case (k, v) => mapfn(k, v) }
    // Combiner fidelity: applied once per map task, client-side only
    // (mincemeat.py:174-176) — the reduce-side merge does NOT re-apply it
    // (mincemeat.py:344-347 only list-extends). mapPartitions mirrors
    // "per map task" exactly: one partition = one map task.
    val combined = collectfn match {
      case Some(cf) =>
        mapped.mapPartitions { it =>
          val groups = new java.util.HashMap[K2, mutable.ArrayBuffer[V2]]
          it.foreach { case (k, v) =>
            groups.computeIfAbsent(k, _ => mutable.ArrayBuffer.empty[V2]) += v
          }
          groups.entrySet.iterator.asScala.map { e =>
            (e.getKey, cf(e.getKey, MapReduceJob.valueSeq(e.getValue)))
          }
        }
      case None => mapped
    }
    // an explicit count: a bare groupByKey() would take the upstream
    // partition count instead of the context's default parallelism
    combined.groupByKey(combined.sparkContext.defaultParallelism)
      .map { case (k, vs) => (k, reducefn(k, MapReduceJob.valueSeq(vs))) }
  }

  /** API-fidelity result: the reference returns an in-memory dict from
    * `run_server` (mincemeat.py:225, :324). Only for results that fit the
    * driver — use [[resultRDD]] at scale.
    */
  def run(data: RDD[(K1, V1)]): Map[K2, V2] =
    resultRDD(data).collectAsMap().toMap

  /** Convenience entry matching the reference's dict-datasource idiom
    * (`s.datasource = dict(...)`, example.py:10).
    */
  def run(sc: org.apache.spark.SparkContext, datasource: Map[K1, V1]): Map[K2, V2] =
    run(sc.parallelize(datasource.toSeq))
}

object MapReduceJob {

  /** One key's values as the `Seq` `collectfn`/`reducefn` receive: a single
    * copy into an array of `V2`, wrapped without a second copy. */
  private def valueSeq[V: ClassTag](vs: Iterable[V]): Seq[V] =
    immutable.ArraySeq.unsafeWrapArray(vs.toArray[V])

  /** Whitespace tokens of `text`, in order, empty tokens dropped: the same
    * tokens as a regex split on `\s+` and as Python 2's `str.split()`
    * (example.py:13). A hand scan over Java's `\s` set, space plus
    * U+0009..U+000D (`\t \n \x0B \f \r`), with no regex and no
    * intermediate array.
    */
  def words(text: String): Iterator[String] = new Iterator[String] {
    private[this] var i = skipSpace(text, 0)
    def hasNext: Boolean = i < text.length
    def next(): String = {
      if (!hasNext) throw new NoSuchElementException("words: no more tokens")
      val start = i
      while (i < text.length && !isSpace(text.charAt(i))) i += 1
      val w = text.substring(start, i)
      i = skipSpace(text, i)
      w
    }
  }

  private def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  private def skipSpace(text: String, from: Int): Int = {
    var i = from
    while (i < text.length && isSpace(text.charAt(i))) i += 1
    i
  }

  /** Associative fast path: when the user's reducer is a commutative,
    * associative binary fold, lower to `reduceByKey` — map-side partial
    * aggregation, constant memory per key, no per-key list. This is the
    * optimization the reference can't offer (its reduce is always the
    * whole list on the master, mincemeat.py:179-182, :325-329).
    */
  def associative[K1, V1, K2: ClassTag, V2: ClassTag](
      mapfn: (K1, V1) => IterableOnce[(K2, V2)],
      op: (V2, V2) => V2): AssociativeJob[K1, V1, K2, V2] =
    AssociativeJob(mapfn, op)

  final case class AssociativeJob[K1, V1, K2: ClassTag, V2: ClassTag](
      mapfn: (K1, V1) => IterableOnce[(K2, V2)],
      op: (V2, V2) => V2) extends Serializable {

    def resultRDD(data: RDD[(K1, V1)]): RDD[(K2, V2)] =
      data.flatMap { case (k, v) => mapfn(k, v) }.reduceByKey(op)

    def run(data: RDD[(K1, V1)]): Map[K2, V2] =
      resultRDD(data).collectAsMap().toMap

    def run(sc: org.apache.spark.SparkContext, datasource: Map[K1, V1]): Map[K2, V2] =
      run(sc.parallelize(datasource.toSeq))
  }
}
