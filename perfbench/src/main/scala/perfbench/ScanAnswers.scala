package perfbench

import org.apache.spark.sql.Row

import graft.sources.eth.{EthBlockData, EthTx, Erc20Decoder}

/** The `chain_scan` kinds' results, recomputed in plain Scala from blocks
  * read by iterating the client directly. Columns follow each query's
  * output order and types; row order does not matter to the fingerprint. */
object ScanAnswers {
  def apply(kind: String, blocks: Seq[EthBlockData]): Seq[Row] = {
    lazy val txs = blocks.flatMap(_.transactions)
    lazy val transfers = blocks.flatMap(Erc20Decoder.decodeBlock)
    kind match {
      case "tx_full" => txs.groupBy(_.blockNumber / 1000).toSeq.map { case (k, ts) =>
        Row(k, ts.size.toLong, ts.map(_.nonce).sum, ts.map(_.transactionIndex.toLong).sum,
          ts.count(_.to.isDefined).toLong, ts.map(_.input.length.toLong).sum,
          ts.map(_.value).max, ts.map(_.gas).min, ts.map(_.gasPrice).max,
          ts.map(t => Harness.xxhash64Strings(t.hash, t.blockHash, t.from, t.to.orNull))
            .reduce(_ ^ _))
      }
      case "erc20_by_token" => transfers.groupBy(_.token).toSeq.map { case (tok, es) =>
        Row(tok, es.size.toLong, es.map(_.blockNumber).sum, es.map(_.value).max,
          es.map(_.value).min,
          es.map(e => Harness.xxhash64Strings(e.from, e.to, e.txHash)).reduce(_ ^ _))
      }
      case "block_pruned" => blocks.groupBy(_.miner).toSeq.map { case (m, bs) =>
        Row(m, bs.size.toLong, bs.map(_.number).sum, bs.map(_.gasUsed).max,
          bs.map(_.timestamp).max)
      }
      case "q25_gas_market" => txs.groupBy(_.blockNumber / 1000).toSeq.map { case (k, ts) =>
        val cells = ts.groupBy(_.gasPrice.toLong / 1000000000L).toSeq.sortBy(_._1)
          .map { case (g, c) => (g, c.size.toLong) }
        val nt = ts.size.toLong
        val cum = cells.scanLeft(0L)(_ + _._2).tail
        def pct(p: Long) = cells.zip(cum).collectFirst { case ((g, _), c) if c * 100 >= nt * p => g }.get
        val fee = ts.map(t => BigInt(t.gas.toLong) * BigInt(t.gasPrice.toLong)).sum
        Row(k, nt, pct(50), pct(90), cells.last._1, fee.toString)
      }
      case "q26_cohorts" =>
        val active = txs.map(t => (t.from, t.blockNumber / 1000)).distinct
        val cohort = active.groupBy(_._1).map { case (a, ks) => a -> ks.map(_._2).min }
        active.groupBy { case (a, k) => (cohort(a), k - cohort(a)) }.toSeq
          .map { case ((c, age), xs) => Row(c, age, xs.size.toLong) }
      case "q30_gas_order" =>
        val pairs = txs.groupBy(_.blockNumber).toSeq.flatMap { case (bn, ts) =>
          val gp = ts.sortBy(_.transactionIndex).map(_.gasPrice.toLong)
          gp.zip(gp.drop(1)).map { case (prev, cur) => (bn / 1000, cur > prev) }
        }
        pairs.groupBy(_._1).toSeq.map { case (k, ps) =>
          val asc = ps.count(_._2).toLong
          Row(k, ps.size.toLong, asc, asc * 1000000L / ps.size)
        }
      case "q31_integrity" =>
        blocks.zip(blocks.drop(1)).groupBy(_._2.number / 1000).toSeq.map { case (k, ps) =>
          val diffs = ps.map(_._2.difficulty)
          Row(k, ps.size.toLong,
            ps.count { case (a, b) => b.totalDifficulty - a.totalDifficulty != b.difficulty }.toLong,
            diffs.min, diffs.max, (diffs.map(BigInt(_)).sum / diffs.size).toLong)
        }
      case "q32_adoption" =>
        val first = transfers.groupBy(e => (e.token, e.to)).toSeq
          .map { case ((tok, _), es) => (tok, es.map(_.blockNumber).min / 1000) }
        first.groupBy(_._1).toSeq.flatMap { case (tok, fs) =>
          val buckets = fs.groupBy(_._2).toSeq.map { case (k, xs) => (k, xs.size.toLong) }.sortBy(_._1)
          buckets.zip(buckets.scanLeft(0L)(_ + _._2).tail)
            .map { case ((k, n), cum) => Row(tok, k, n, cum) }
        }
      case "q33_selectors" =>
        txs.groupBy(t => if (t.input == "0x") "(transfer)" else t.input.take(10)).toSeq.map {
          case (sel, ts) =>
            val gas = ts.map(_.gas.toLong)
            Row(sel, ts.size.toLong, ts.flatMap(_.to).distinct.size.toLong, gas.sum,
              gas.sum / ts.size)
        }
      case "q34_value_hist" =>
        val bits = txs.map { t =>
          val v = t.value.toLong
          if (v == 0L) 0L else (64 - java.lang.Long.numberOfLeadingZeros(v)).toLong
        }
        bits.groupBy(identity).toSeq.map { case (b, xs) =>
          Row(b, xs.size.toLong, xs.size.toLong * 1000000L / bits.size)
        }
    }
  }
}
