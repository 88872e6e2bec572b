package perfbench

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** LLM-curation ops from the registry over the seeded corpus. Three are
  * kernel- and plan-heavy (one eager job while building, the work runs in
  * the final plan); `nd_dedup_substring` is build-heavy (eleven eager
  * jobs). The warm-up writes every kind's result once; after the run it is
  * checked against the DuckDB replay of the kind's `SparkEntry.oracleSql`,
  * and each timed op must reproduce that result's fingerprint. */
final class Curation(seed: Long) extends Workload(seed) {
  import Curation._
  override def roundDoubles: Boolean = true

  private val verified = TrieMap.empty[String, Harness.Fp]

  def generate(spark: SparkSession, dir: String): Unit =
    Corpus.write(spark, dir, seed, BaseDocs, BaseVecs, Copies)

  def pass(spark: SparkSession, dir: String, p: Int): Seq[Op] =
    shuffled(kinds, rng(p)).map(k => Op(k, "", () => SparkEntry.queries(k)(spark, dir)))

  def warmupPasses: Int = 1

  /** Writes every kind's result for the oracle check, then warms up as
    * every workload does. */
  override def warmup(spark: SparkSession, dir: String): Unit = {
    concurrently(kinds.map(k => () => verified(k) = Harness.runObserved(
      SparkEntry.queries(k)(spark, dir), roundDoubles)(
      _.write.mode("overwrite").parquet(outputDir(dir, k)))))
    super.warmup(spark, dir)
  }

  def verify(spark: SparkSession, dir: String, outs: Seq[Outcome]): Seq[Boolean] =
    outs.map(o => o.fp.isDefined && o.fp == verified.get(o.op.kind))
}

object Curation {
  val BaseDocs = 2500
  val BaseVecs = 1000
  /** Corpus = base × copies (5000 documents, 2000 vectors: sf0.1's size). */
  val Copies = 2

  val kinds: Seq[String] = Seq("nd_dedup_minhash", "nd_text_gopher", "nd_knn_lsh",
    "nd_dedup_substring")

  def outputDir(dir: String, kind: String): String = s"$dir/verified/$kind"
}
