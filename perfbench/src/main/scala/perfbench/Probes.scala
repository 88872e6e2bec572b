package perfbench

import java.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{SketchKernels, Web3Functions}
import graft.operators.Dedup
import graft.plans.Caching
import graft.sources.eth.{EthClient, EthFixtures, Erc20Decoder}

/** Direct calls into each layer's public functions on seeded inputs, each
  * warmed up before it is timed. Reported values are medians over timed
  * repetitions. */
object Probes {
  private def timeMedian(warm: Int, reps: Int)(body: => Unit): Double = {
    (1 to warm).foreach(_ => body)
    Harness.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
  }

  /** `sources.eth`: fetch, decode, planning-time lookups and the UDF's
    * per-row cost, against the chain under `chainDir`. */
  def source(spark: SparkSession, chainDir: String, blocks: Long, seed: Long)
      : Seq[(String, Double, String)] = {
    val r = new Random(seed)
    val client = EthClient.forChain(chainDir)
    val span = math.min(4096L, blocks)
    val lo = 1L + r.nextInt((blocks - span + 1).toInt)
    val hi = lo + span - 1
    val fetch = timeMedian(2, 5)(client.blocks(lo, hi).foreach(_ => ()))
    val header = timeMedian(2, 5)(client.blocks(lo, hi, fullTx = false).foreach(_ => ()))
    val logs = client.blocks(lo, hi).flatMap(_.transactions.flatMap(_.logs)).toVector
    val decode = timeMedian(3, 7)(logs.foreach(Erc20Decoder.decode))
    def rand() = 1L + r.nextInt(blocks.toInt)
    val lookup = timeMedian(3, 15)(
      EthClient.forChain(chainDir).blockNumberByHash(EthFixtures.blockHash(rand())))
    val ts = timeMedian(10, 50)(client.timestampOf(rand()))
    val tip = timeMedian(10, 50)(EthClient.forChain(chainDir).blockNumber())
    Web3Functions.register(spark, chainDir)
    val rows = 100000L
    val addrs = spark.range(rows).select(
      concat(lit("0x"), lpad(hex(col("id") * 7919L), 40, "0")).as("a"),
      (col("id") % blocks + 1L).as("b"))
    val withUdf = timeMedian(1, 3)(Harness.noop(
      addrs.select(expr("eth_getBalance(a, b)"))))
    val without = timeMedian(1, 3)(Harness.noop(addrs))
    Seq(
      ("source.fetch_blocks_per_s", span / fetch, "1/s"),
      ("source.fetch_header_blocks_per_s", span / header, "1/s"),
      ("source.decode_logs_per_s", logs.size / decode, "1/s"),
      ("source.hash_lookup_ms", lookup * 1e3, "ms"),
      ("source.ts_probe_ms", ts * 1e3, "ms"),
      ("source.tip_ms", tip * 1e3, "ms"),
      ("udf.get_balance_us", (withUdf - without) / rows * 1e6, "us"))
  }

  /** `functions`: the native kernels on document- and vector-shaped inputs
    * like the curation corpus's. */
  def kernels(seed: Long): Seq[(String, Double, String)] = {
    val r = new Random(seed)
    def words(): ArrayData = {
      val n = 10 + r.nextInt(90)
      new GenericArrayData(Array.fill[Any](n)(
        UTF8String.fromString(Corpus.Vocab(r.nextInt(Corpus.Vocab.length)))))
    }
    def vec(): ArrayData = new GenericArrayData(Array.fill[Any](Corpus.Dim)(r.nextGaussian()))
    val docs = Array.fill(512)(words())
    val vecs = Array.fill(512)(vec())
    val sh = docs.map(SketchKernels.shingleHashes(_, Dedup.ShingleSize))
    /** Median microseconds per call over the 512 inputs. */
    def perCall(f: Int => Unit): Double =
      timeMedian(20, 15)((0 until 512).foreach(f)) / 512 * 1e6
    Seq(
      ("kernel.minhash_sig_us", perCall(i =>
        SketchKernels.minhashSig(docs(i), Dedup.ShingleSize, Dedup.NumHashes)), "us"),
      ("kernel.simhash60_us", perCall(i => SketchKernels.simhash60(docs(i))), "us"),
      ("kernel.shingle_hashes_us", perCall(i =>
        SketchKernels.shingleHashes(docs(i), Dedup.ShingleSize)), "us"),
      ("kernel.jaccard_sorted_us", perCall(i =>
        SketchKernels.jaccardSorted(sh(i), sh((i + 1) % 512))), "us"),
      ("kernel.cosine_sim_us", perCall(i =>
        SketchKernels.cosineSim(vecs(i), vecs((i + 1) % 512))), "us"),
      ("kernel.lsh_bucket_us", perCall(i => SketchKernels.lshBucket(vecs(i), 6, i % 4)), "us"))
  }

  /** `plans` and `exec`: the eager materializations on a fixed small frame,
    * and Spark's floor for an empty job. */
  def plans(spark: SparkSession): Seq[(String, Double, String)] = {
    def frame() = spark.range(50000).select(col("id"), (col("id") % 97).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("s"))
    val detach = timeMedian(2, 7)(Caching.detach(frame(), () => ()))
    val checkpoint = timeMedian(2, 7)(Caching.freeCheckpoint(Caching.iterCheckpoint(frame())))
    val empty = timeMedian(5, 20)(spark.range(1).count())
    Seq(
      ("plans.detach_ms", detach * 1e3, "ms"),
      ("plans.iter_checkpoint_ms", checkpoint * 1e3, "ms"),
      ("exec.empty_job_ms", empty * 1e3, "ms"))
  }
}
