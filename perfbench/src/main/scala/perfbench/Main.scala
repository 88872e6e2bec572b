package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Runs one workload: three timed set-ups, a closed loop of ops for at
  * least `--seconds`, the output checks and, with `--trace 1`, the traced
  * layer metrics. Writes the result as JSON to `--out`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, cores: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("out"), m("cores").toInt)
  }

  val Setups = 3

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        Runtime.getRuntime.halt(1)
    }

  private def run(a: Args): Unit = {
    val wl = Workload(a.workload, a.seed)
    val tmp = s"${a.work}/tmp"

    // set-up: session start and seeded inputs, timed three times; the
    // warm-up runs once, after the last set-up
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var dir = ""
    for (k <- 1 to Setups) {
      if (spark != null) { spark.stop(); delete(new File(dir)) }
      val t0 = System.nanoTime()
      spark = Harness.session(a.cores, tmp)
      dir = s"${a.work}/input$k"
      wl.generate(spark, dir)
      setupS += Harness.seconds(t0)
    }
    val tw = System.nanoTime()
    wl.warmup(spark, dir)
    val warmupS = Harness.seconds(tw)

    // timed region: whole passes until the ops have run for --seconds
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val outs = mutable.ArrayBuffer.empty[Outcome]
    val passS = mutable.ArrayBuffer.empty[Double]
    val compiles0 = codegenCompiles()
    val t0 = System.nanoTime()
    var p = 0
    while (passS.sum < a.seconds) {
      val done = wl.pass(spark, dir, p).zipWithIndex
        .map { case (op, i) => runOp(op, s"op-${outs.size + i}", wl, tracer) }
      outs ++= done
      passS += done.map(_.latencyS).sum
      p += 1
    }
    val compiles = codegenCompiles() - compiles0
    val heapMb = liveHeap() / 1e6
    val elapsed = Harness.seconds(t0)
    tracer.foreach(_.finish())

    val tv = System.nanoTime()
    val verdicts = wl.verify(spark, dir, outs.toSeq)
    val verifyS = Harness.seconds(tv)
    val failed = outs.zip(verdicts).count { case (o, ok) => o.error.isDefined || !ok }
    outs.zip(verdicts).filter { case (o, ok) => o.error.isDefined || !ok }.take(5)
      .foreach { case (o, _) =>
        System.err.println(s"[perfbench] FAILED ${o.op.kind} ${o.op.key} " +
          o.error.getOrElse(s"wrong answer (fingerprint ${o.fp.getOrElse("-")})"))
      }
    val lat = outs.map(_.latencyS).toSeq
    val opsPerS = (outs.size - failed) / passS.sum
    val endToEnd = Seq(
      ("setup_s", Harness.median(setupS.toSeq), "s"),
      ("ops_per_s", opsPerS, "1/s"),
      ("op_p50_s", Harness.median(lat), "s"),
      ("peak_heap_mb", heapMb, "MB"))

    val metrics = tracer match {
      case None => endToEnd
      case Some(t) =>
        val chain = wl match {
          case _: Curation => // no chain in this workload: probe a small one
            EthFixturesProbe.chain(s"${a.work}/probe")
          case _ => (ChainData.chainDir(dir), ChainData.Blocks)
        }
        t.write(s"${a.work}/trace.json")
        Seq(("trace.ops_per_s", opsPerS, "1/s"), ("trace.op_p50_s", Harness.median(lat), "s")) ++
          t.layerMetrics(outs.indices.map(i => s"op-$i"), outs.toSeq, a.cores) ++
          Seq(("exec.codegen_compiles", compiles.toDouble / outs.size, "count")) ++
          Probes.source(spark, chain._1, chain._2, a.seed) ++
          Probes.kernels(a.seed) ++
          Probes.plans(spark)
    }

    val report = Seq(
      ("ops", outs.size.toDouble, "count"),
      ("codegen_compiles", compiles.toDouble, "count"),
      ("passes", p.toDouble, "count"),
      ("timed_s", elapsed, "s"),
      ("warmup_s", warmupS, "s"),
      ("verify_s", verifyS, "s"),
      ("failed_frac", failed.toDouble / math.max(1, outs.size), "ratio")) ++
      (if (outs.size >= 100) Seq(("op_p90_s", Harness.quantile(lat, 0.9), "s")) else Nil) ++
      setupS.zipWithIndex.map { case (s, i) => (s"setup_${i + 1}_s", s, "s") } ++
      passS.zipWithIndex.map { case (s, i) => (s"pass_${i + 1}_s", s, "s") }
    val byKind = outs.zip(verdicts).groupBy(_._1.op.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      val bad = os.count { case (o, ok) => o.error.isDefined || !ok }
      val oracle = wl match {
        case _: Curation => SparkEntry.oracleSql.get(k).map(sql =>
          s""","output":${q(Curation.outputDir(dir, k))},"oracle":${q(sql)}""").getOrElse("")
        case _ => ""
      }
      s"""${q(k)}:{"ops":${os.size},"failed":$bad,""" +
        s""""p50_s":${Harness.median(os.map(_._1.latencyS).toSeq)}$oracle}"""
    }
    def obj(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
      s"""${q(n)}:{"value":${num(v)},"unit":${q(u)}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"correct":${failed == 0},"attempted":${outs.size},"failed":$failed,""" +
      s""""metrics":${obj(metrics)},"report":${obj(report)},""" +
      s""""kinds":${byKind.mkString("{", ",", "}")},"corpus":${q(dir)}}"""
    Files.write(Paths.get(a.out), (json + "\n").getBytes(StandardCharsets.UTF_8))
    // the result is on disk and the caller removes the work directory:
    // skip Spark's shutdown hooks
    Runtime.getRuntime.halt(0)
  }

  /** Heap still in use after the timed ops, read after a full collection:
    * what the program keeps between ops, such as caches. The pause lets
    * Spark's cleaner drop the shuffle and broadcast state the first
    * collection released. A collection between passes would slow the next
    * one (it clears soft-referenced caches), so there is none. */
  private def liveHeap(): Long = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Generated classes Spark has compiled in this JVM so far: each one is
    * a miss in its code-generation cache (`spark.sql.codegen.cache.maxEntries`
    * entries, left at Spark's default as the repository's own sessions do). */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def runOp(op: Op, id: String, wl: Workload, tracer: Option[Tracer]): Outcome = {
    tracer.foreach(_.beginOp(id, op.kind))
    val t0 = System.nanoTime()
    var built = t0
    try {
      val df = op.build()
      built = System.nanoTime()
      tracer.foreach(_.beginRun(id))
      val fp = Harness.runObserved(df, wl.roundDoubles)()
      Outcome(op, (built - t0) / 1e9, Harness.seconds(built), Some(fp), df.schema, None)
    } catch {
      case e: Exception =>
        Outcome(op, (built - t0) / 1e9, Harness.seconds(built), None,
          new org.apache.spark.sql.types.StructType(), Some(e.toString))
    } finally tracer.foreach(_.endOp(id))
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case '\r' => "\\r"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}

/** A small chain for the `sources.eth` probes of a workload without one. */
object EthFixturesProbe {
  val Blocks = 2048L
  def chain(dir: String): (String, Long) =
    (graft.sources.eth.EthFixtures.ensureChainOnly(dir, Blocks), Blocks)
}
