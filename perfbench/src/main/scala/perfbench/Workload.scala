package perfbench

import java.util.Random
import java.util.concurrent.Executors

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One query of a workload: `build` constructs the DataFrame (the
  * `operators` layer, plus any eager `plans` jobs it runs); the harness
  * then forces it. `key` names the inputs the answer depends on. */
final case class Op(kind: String, key: String, build: () => DataFrame)

/** What one forced op produced. */
final case class Outcome(op: Op, buildS: Double, runS: Double,
    fp: Option[Harness.Fp], schema: StructType, error: Option[String]) {
  def latencyS: Double = buildS + runS
}

/** A closed-loop workload. Everything it runs is derived from the seed it
  * was constructed with; the program only sees the generated inputs. */
abstract class Workload(val seed: Long) {
  import Workload.WarmupThreads
  /** Round doubles before fingerprinting (results of float aggregates). */
  def roundDoubles: Boolean = false
  /** Writes the seeded inputs under `dir` and prepares the session. */
  def generate(spark: SparkSession, dir: String): Unit
  /** Pass `p` of the op stream: every kind once, in a seeded order. */
  def pass(spark: SparkSession, dir: String, p: Int): Seq[Op]
  /** Untimed passes run before the timed region: `warmupPasses` of them,
    * one after another and forced as the timed ones are, so that code
    * generation and the JIT have settled on the same work. A fixed count
    * rather than a fixed time: a slow host gets the same warm-up. */
  def warmupPasses: Int
  def warmup(spark: SparkSession, dir: String): Unit =
    for (p <- -warmupPasses to -1; op <- pass(spark, dir, p))
      Harness.runObserved(op.build(), roundDoubles)()

  /** Checks each outcome against an answer computed without the timed
    * code path; returns one verdict per outcome. */
  def verify(spark: SparkSession, dir: String, outs: Seq[Outcome]): Seq[Boolean]

  protected def concurrently(tasks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(WarmupThreads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  protected def rng(p: Int, salt: Long = 0L): Random =
    new Random(seed * 1000003L + p * 7919L + salt)

  protected def shuffled[A](xs: Seq[A], r: Random): Seq[A] = {
    val a = xs.toBuffer
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toSeq
  }
}

object Workload {
  val WarmupThreads = 4
  val names: Seq[String] = Seq("chain_scan", "chain_lookup", "curation")

  def apply(name: String, seed: Long): Workload = name match {
    case "chain_scan"   => new ChainScan(seed)
    case "chain_lookup" => new ChainLookup(seed)
    case "curation"     => new Curation(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected ${names.mkString("|")})")
  }
}
