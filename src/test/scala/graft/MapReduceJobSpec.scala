package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.mr.MapReduceJob

/** Fidelity tests for the MapReduce core.
  *
  * Golden test: the reference's only test (smoke.sh:1) — word count over
  * example.py:4-8's four nursery-rhyme lines, 20 exact (word, count)
  * pairs. Order-insensitive (the reference prints an unordered Python-2
  * dict, README.md:72-74).
  *
  * Law tests (SURVEY.md §5.3): combiner soundness (with/without collectfn
  * agree for associative reducers — implied by mincemeat.py:174-176),
  * map-output-order insensitivity, the combiner keeping the shuffle's key
  * equality, per-task value order, and `MapReduceJob.words` against the
  * regex split it replaces.
  */
class MapReduceJobSpec extends SparkSpec {

  private def checkProp(p: Prop, minTests: Int = 30): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(minTests), p)
    assert(res.passed, res.status.toString)
  }

  // example.py:4-8, verbatim
  private val lines = Seq(
    "Humpty Dumpty sat on a wall",
    "Humpty Dumpty had a great fall",
    "All the King's horses and all the King's men",
    "Couldn't put Humpty together again")

  // smoke.sh:1, verbatim (as a Map — order-insensitive comparison)
  private val golden = Map(
    "a" -> 2, "on" -> 1, "great" -> 1, "Humpty" -> 3, "again" -> 1,
    "wall" -> 1, "Dumpty" -> 2, "men" -> 1, "had" -> 1, "all" -> 1,
    "together" -> 1, "King's" -> 2, "horses" -> 1, "All" -> 1,
    "Couldn't" -> 1, "fall" -> 1, "and" -> 1, "the" -> 2, "put" -> 1,
    "sat" -> 1)

  private def wordCountJob(withCombiner: Boolean) = MapReduceJob[Int, String, String, Int](
    mapfn = (_, v) => MapReduceJob.words(v).map(w => (w, 1)),
    reducefn = (_, vs) => vs.sum,
    collectfn = if (withCombiner) Some((_: String, vs: Seq[Int]) => vs.sum) else None)

  test("golden word count matches smoke.sh exactly (no combiner)") {
    val ds = lines.zipWithIndex.map { case (l, i) => (i, l) }.toMap
    assert(wordCountJob(withCombiner = false).run(spark.sparkContext, ds) === golden)
  }

  test("golden word count matches smoke.sh exactly (with collectfn combiner)") {
    val ds = lines.zipWithIndex.map { case (l, i) => (i, l) }.toMap
    assert(wordCountJob(withCombiner = true).run(spark.sparkContext, ds) === golden)
  }

  test("associative fast path agrees with holistic path") {
    val ds = lines.zipWithIndex.map { case (l, i) => (i, l) }.toMap
    val fast = MapReduceJob.associative[Int, String, String, Int](
      mapfn = (_, v) => MapReduceJob.words(v).map(w => (w, 1)),
      op = _ + _)
    assert(fast.run(spark.sparkContext, ds) === golden)
  }

  test("holistic reducefn sees the whole value list (non-associative reduce)") {
    // reducefn = "count distinct parities" — not expressible as a binary fold
    val job = MapReduceJob[Int, Int, Int, Int](
      mapfn = (_, v) => Iterator((v % 3, v)),
      reducefn = (_, vs) => vs.map(_ % 2).distinct.size)
    val data = (1 to 100).map(i => (i, i)).toMap
    val got = job.run(spark.sparkContext, data)
    assert(got === Map(0 -> 2, 1 -> 2, 2 -> 2))
  }

  test("law: combiner soundness — collectfn never changes an associative result") {
    val genData = Gen.mapOf(Gen.zip(Gen.choose(0, 50), Gen.choose(-100, 100)))
    checkProp(Prop.forAll(genData) { (data: Map[Int, Int]) =>
      val mk = (withC: Boolean) => MapReduceJob[Int, Int, Int, Int](
        mapfn = (_, v) => Iterator((math.abs(v) % 7, v)),
        reducefn = (_, vs) => vs.sum,
        collectfn = if (withC) Some((_: Int, vs: Seq[Int]) => vs.sum) else None)
      val rdd = spark.sparkContext.parallelize(data.toSeq, 4)
      mk(false).run(rdd) == mk(true).run(rdd)
    })
  }

  test("law: result independent of input partitioning / map order") {
    val data = (1 to 200).map(i => (i, s"w${i % 13}")).toMap
    val job = MapReduceJob[Int, String, String, Int](
      mapfn = (_, v) => Iterator((v, 1)),
      reducefn = (_, vs) => vs.sum)
    val r1 = job.run(spark.sparkContext.parallelize(data.toSeq, 1))
    val r8 = job.run(spark.sparkContext.parallelize(data.toSeq.reverse, 8))
    assert(r1 === r8)
  }

  test("law: collectfn keeps the shuffle's key set and values over Double keys 0.0, -0.0, NaN") {
    // The shuffle's Double.equals keeps 0.0 and -0.0 apart and merges NaN.
    // Keys are compared by their canonical bits, which agree with it; a Scala
    // Map would itself merge 0.0 and -0.0.
    val genData = Gen.listOf(Gen.oneOf(0.0, -0.0, Double.NaN, 1.0, -1.0))
    checkProp(Prop.forAll(genData) { (keys: List[Double]) =>
      val mk = (withC: Boolean) => MapReduceJob[Int, Double, Double, List[Int]](
        mapfn = (i, d) => Iterator((d, List(i))),
        reducefn = (_, vs) => vs.flatten.toList.sorted,
        collectfn = if (withC) Some((_: Double, vs: Seq[List[Int]]) => vs.flatten.toList) else None)
      val rdd = spark.sparkContext.parallelize(keys.zipWithIndex.map(_.swap), 2)
      def canon(withC: Boolean) = mk(withC).resultRDD(rdd).collect()
        .map { case (k, vs) => (java.lang.Double.doubleToLongBits(k), vs) }.sortBy(_._1).toSeq
      canon(withC = false) == canon(withC = true)
    })
  }

  test("law: in a 1-partition job collectfn sees each key's values in map-emission order") {
    val genData = Gen.listOf(Gen.choose(0, 20))
    checkProp(Prop.forAll(genData) { (vals: List[Int]) =>
      val emit = (i: Int, v: Int) => Iterator((v % 4, List(2 * i)), (v % 3, List(2 * i + 1)))
      val seen = MapReduceJob[Int, Int, Int, List[Int]](
        mapfn = emit,
        reducefn = (_, vs) => vs.flatten.toList,
        collectfn = Some((_: Int, vs: Seq[List[Int]]) => vs.flatten.toList))
        .run(spark.sparkContext.parallelize(vals.zipWithIndex.map(_.swap), 1))
      val expected = vals.zipWithIndex.flatMap { case (v, i) => emit(i, v) }
        .groupBy(_._1).map { case (k, kvs) => (k, kvs.flatMap(_._2)) }
      seen == expected
    })
  }

  test("property: words gives the regex split's tokens, empty tokens dropped") {
    // Java's \s: space, \t \n \x0B \f \r. The look-alikes are not in it.
    val spaces = Seq(' ', '\t', '\n', '\u000B', '\f', '\r')
    val lookAlikes = Seq('\u00A0', '\u2003', '\u0085', '\u001C', '\u001D', '\u001E', '\u001F')
    val genChar = Gen.frequency(3 -> Gen.oneOf('a', 'b', 'Z', '\''), 3 -> Gen.oneOf(spaces),
      1 -> Gen.oneOf(lookAlikes))
    val genRun = Gen.listOf(Gen.oneOf(spaces)).map(_.mkString)
    val genText = for {
      lead <- genRun; body <- Gen.listOf(genChar).map(_.mkString); trail <- genRun
    } yield lead + body + trail
    def agrees(s: String) = MapReduceJob.words(s).toSeq == s.split("\\s+").filter(_.nonEmpty).toSeq
    checkProp(Prop.forAll(genText)(agrees), minTests = 2000)
    assert(Seq("", " a ", "a\u000Bb", "\u00A0a\u00A0").forall(agrees))
  }
}
