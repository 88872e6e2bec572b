package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Web3Functions
import graft.operators.EthQueries
import graft.sources.eth.{EthBlockData, EthClient, EthFixtures, EthSchemas, Erc20Decoder}
import graft.sources.eth.EthSchemas.TableKind

/** The fixture chain both chain workloads read: blocks `1..Blocks`,
  * written by `EthFixtures.ensureChainOnly` (the chain itself does not
  * depend on the seed; the seed picks what is asked of it). */
object ChainData {
  val Blocks = 8192L

  def chainDir(dir: String): String = s"$dir/chain"

  def generate(dir: String): String = EthFixtures.ensureChainOnly(chainDir(dir), Blocks)

  def frame(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.format("ethereum").option("table", table)
      .option("chain", chainDir(dir)).load()

  /** Every block, read by iterating the client directly (no Spark). */
  def direct(dir: String): IndexedSeq[EthBlockData] =
    EthClient.forChain(chainDir(dir)).blocks(1, Blocks).toIndexedSeq
}

/** Bulk analytics: ten aggregate kinds, each over a window of half the
  * chain. The seed picks two windows per kind (alternating by pass) and
  * the order of the kinds in every pass. */
final class ChainScan(seed: Long) extends Workload(seed) {
  import ChainScan._

  private val windows: Map[String, Seq[(Long, Long)]] = kinds.map { k =>
    val r = rng(0, k.name.hashCode.toLong)
    k.name -> Seq.fill(2) {
      val lo = 1L + r.nextInt((ChainData.Blocks - Window + 1).toInt)
      (lo, lo + Window - 1)
    }
  }.toMap

  def generate(spark: SparkSession, dir: String): Unit = ChainData.generate(dir)

  def warmupPasses: Int = 5

  def pass(spark: SparkSession, dir: String, p: Int): Seq[Op] =
    shuffled(kinds, rng(p)).map { k =>
      val (lo, hi) = windows(k.name)(math.floorMod(p, 2))
      Op(k.name, s"$lo,$hi", () => k.query(ChainData.frame(spark, dir, k.table.name)
        .filter(col(EthSchemas.blockNumberColumn(k.table)).between(lo, hi))))
    }

  /** Expected answer: the kind's result recomputed in plain Scala from
    * the window's blocks, read by iterating the client directly. */
  def verify(spark: SparkSession, dir: String, outs: Seq[Outcome]): Seq[Boolean] = {
    val blocks = ChainData.direct(dir)
    val memo = mutable.Map.empty[(String, String), Harness.Fp]
    outs.map { o =>
      o.fp.exists(_ == memo.getOrElseUpdate((o.op.kind, o.op.key), {
        val Array(lo, hi) = o.op.key.split(',').map(_.toLong)
        Harness.fingerprint(ScanAnswers(o.op.kind, blocks.slice((lo - 1).toInt, hi.toInt)),
          o.schema)
      }))
    }
  }
}

object ChainScan {
  val Window = 4096L

  final case class Kind(name: String, table: TableKind, query: DataFrame => DataFrame)

  /** Full-width transaction decode: every column's value reaches an
    * aggregate. */
  private def txFull(tx: DataFrame): DataFrame =
    tx.groupBy(expr("tx_blockNumber div 1000").as("blk_k"))
      .agg(count(lit(1)).as("n"), sum("tx_nonce").as("nonce_sum"),
        sum(col("tx_transactionIndex").cast("long")).as("idx_sum"),
        count("tx_to").as("n_to"),
        sum(length(col("tx_input")).cast("long")).as("input_chars"),
        max("tx_value").as("max_value"), min("tx_gas").as("min_gas"),
        max("tx_gasPrice").as("max_gas_price"),
        bit_xor(xxhash64(col("tx_hash"), col("tx_blockHash"), col("tx_from"),
          col("tx_to"))).as("ids"))

  private def erc20ByToken(e: DataFrame): DataFrame =
    e.groupBy("erc20_token")
      .agg(count(lit(1)).as("n"), sum("erc20_blockNumber").as("bn_sum"),
        max("erc20_value").as("max_value"), min("erc20_value").as("min_value"),
        bit_xor(xxhash64(col("erc20_from"), col("erc20_to"),
          col("erc20_txHash"))).as("ids"))

  /** Reads four block columns only: the header-only fetch path. */
  private def blockPruned(b: DataFrame): DataFrame =
    b.groupBy("block_miner")
      .agg(count(lit(1)).as("n"), sum("block_number").as("bn_sum"),
        max("block_gasUsed").as("max_gas_used"),
        max("block_timestamp").as("last_ts"))

  val kinds: Seq[Kind] = Seq(
    Kind("tx_full", EthSchemas.Transaction, txFull),
    Kind("erc20_by_token", EthSchemas.Erc20, erc20ByToken),
    Kind("block_pruned", EthSchemas.Block, blockPruned),
    Kind("q25_gas_market", EthSchemas.Transaction, EthQueries.q25GasMarketOf),
    Kind("q26_cohorts", EthSchemas.Transaction, EthQueries.q26AddressCohortsOf),
    Kind("q30_gas_order", EthSchemas.Transaction, EthQueries.q30GasOrderAuditOf),
    Kind("q31_integrity", EthSchemas.Block, b => EthQueries.q31ChainIntegrityOf(
      b.select("block_number", "block_difficulty", "block_totalDifficulty"))),
    Kind("q32_adoption", EthSchemas.Erc20, EthQueries.q32AdoptionOf),
    Kind("q33_selectors", EthSchemas.Transaction, EthQueries.q33SelectorsOf),
    Kind("q34_value_hist", EthSchemas.Transaction, EthQueries.q34ValueHistogramOf))
}

/** Short pushdown queries against the same chain: hash point lookups,
  * tx-by-block-hash, 20-block tx ranges, 10-minute timestamp windows,
  * 100-block ERC-20 ranges of one token, the 10 newest blocks, and
  * `eth_getBalance` over a 5-block range. Every op draws fresh seeded
  * parameters. */
final class ChainLookup(seed: Long) extends Workload(seed) {
  private val N = ChainData.Blocks
  private lazy val tokens: IndexedSeq[String] =
    EthFixtures.tokenContracts.map(Erc20Decoder.tokenName)

  /** Block timestamps, for picking windows that are not empty. */
  @volatile private var timestamps: Array[Long] = Array.empty

  def generate(spark: SparkSession, dir: String): Unit = {
    ChainData.generate(dir)
    Web3Functions.register(spark, ChainData.chainDir(dir))
    timestamps = ChainData.direct(dir).map(_.timestamp).toArray
  }

  def warmupPasses: Int = 30

  private val kinds = Seq("hash_point", "tx_by_block_hash", "tx_range20",
    "ts_window10m", "erc20_token_range100", "top10_recent", "balance5")

  def pass(spark: SparkSession, dir: String, p: Int): Seq[Op] = {
    val r = rng(p)
    def frame(t: String) = ChainData.frame(spark, dir, t)
    shuffled(kinds, r).map { kind =>
      val n = 1L + r.nextInt((N - 99).toInt)
      kind match {
        case "hash_point" => Op(kind, s"$n", () => frame("block")
          .filter(col("block_hash") === EthFixtures.blockHash(n))
          .select("block_number", "block_hash", "block_miner"))
        case "tx_by_block_hash" => Op(kind, s"$n", () => frame("transaction")
          .filter(col("tx_blockHash") === EthFixtures.blockHash(n))
          .select("tx_hash", "tx_transactionIndex"))
        case "tx_range20" => Op(kind, s"$n", () => frame("transaction")
          .filter(col("tx_blockNumber").between(n, n + 19))
          .select("tx_hash", "tx_blockNumber", "tx_from", "tx_value"))
        case "ts_window10m" =>
          val t = timestamps((n - 1).toInt)
          Op(kind, s"$t", () => frame("block")
            .filter(col("block_timestamp") >= t && col("block_timestamp") < t + 600)
            .select("block_number", "block_timestamp"))
        case "erc20_token_range100" =>
          val tok = r.nextInt(tokens.size)
          Op(kind, s"$n,$tok", () => frame("erc20")
            .filter(col("erc20_blockNumber").between(n, n + 99) &&
              col("erc20_token") === tokens(tok))
            .select("erc20_txHash", "erc20_from", "erc20_to", "erc20_value"))
        case "top10_recent" => Op(kind, "", () => frame("block")
          .orderBy(col("block_number").desc).limit(10)
          .select("block_number", "block_hash"))
        case "balance5" => Op(kind, s"$n", () => frame("transaction")
          .filter(col("tx_blockNumber").between(n, n + 4))
          .select(col("tx_hash"), col("tx_from"),
            expr("eth_getBalance(tx_from, tx_blockNumber)").as("bal")))
      }
    }
  }

  /** Expected rows built in plain Scala from direct client iteration,
    * `EthFixtures.blockHash(n)` and the transfers `EthFixtures.genBlock`
    * derives from its generation parameters (not from the decoder). */
  def verify(spark: SparkSession, dir: String, outs: Seq[Outcome]): Seq[Boolean] = {
    val blocks = ChainData.direct(dir)
    val client = EthClient.forChain(ChainData.chainDir(dir))
    def blk(n: Long) = blocks((n - 1).toInt)
    def range(n: Long, k: Int) = (n until n + k).map(blk)
    def expected(o: Outcome): Seq[Row] = {
      val p = o.op.key.split(',').filter(_.nonEmpty).map(_.toLong)
      o.op.kind match {
        case "hash_point" =>
          val b = blk(p(0))
          require(b.hash == EthFixtures.blockHash(p(0)))
          Seq(Row(b.number, EthFixtures.blockHash(p(0)), b.miner))
        case "tx_by_block_hash" =>
          blk(p(0)).transactions.map(t => Row(t.hash, t.transactionIndex))
        case "tx_range20" => range(p(0), 20).flatMap(_.transactions)
          .map(t => Row(t.hash, t.blockNumber, t.from, t.value))
        case "ts_window10m" => blocks
          .filter(b => b.timestamp >= p(0) && b.timestamp < p(0) + 600)
          .map(b => Row(b.number, b.timestamp))
        case "erc20_token_range100" =>
          (p(0) until p(0) + 100).flatMap(n => EthFixtures.genBlock(n, 0L, 0L)._2)
            .filter(_.token == tokens(p(1).toInt))
            .map(e => Row(e.txHash, e.from, e.to, e.value))
        case "top10_recent" =>
          (N - 9 to N).map(n => Row(n, EthFixtures.blockHash(n)))
        case "balance5" => range(p(0), 5).flatMap(_.transactions)
          .map(t => Row(t.hash, t.from, client.getBalance(t.from, Some(t.blockNumber))))
      }
    }
    outs.map(o => o.fp.contains(Harness.fingerprint(expected(o), o.schema)))
  }
}
