package perfbench

import org.apache.spark.sql.SparkSession

import graft.operators.Dedup

/** A store the workload reads, built through the program's own `ensure*`
  * builder; `label` is the name `graft.Bench.runSetup` uses for it. */
final case class Store(label: String, build: (SparkSession, String) => Any)

/** A workload: the fixed operation list of one pass (names from
  * `graft.SparkEntry.queries`), the stores its set-up builds, the
  * untimed warm-up passes each set-up ends with, enough that the timed
  * passes no longer drift down (measured), and the streaming doors its traced run
  * measures and its check verifies. Doors stay out of the timed passes:
  * their cost is mostly fixed per micro-batch (file commits, planning)
  * and too unsteady for the end-to-end bounds. */
final case class Workload(name: String, ops: Seq[String], stores: Seq[Store],
    warmupPasses: Int = 1, doors: Seq[String] = Nil)

object Workloads {
  val mrCorpus = Workload("mr_corpus",
    Seq("q_mr_wordcount", "q_mr_chained", "q_mr_inverted", "q_mr_join", "q_wordcount"),
    Nil)

  val llmCorpus = Workload("llm_corpus",
    Seq("q_fingerprint", "q_dedup_minhash", "q_ngram_jaccard", "q_dedup_simhash",
      "q_pii_redact"),
    Seq(
      Store("gram_store", (s, d) => Dedup.ensureGramStore(s, d)),
      Store("signature_store", (s, d) => Dedup.ensureSignatureStore(s, d)),
      Store("simhash_store", (s, d) => Dedup.ensureSimhashStore(s, d))),
    // its short, planning-bound queries keep speeding up for longer
    // than mr_corpus's
    warmupPasses = 2,
    doors = Seq("q_stream_pii_redact"))

  val all: Seq[Workload] = Seq(mrCorpus, llmCorpus)

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))
}
