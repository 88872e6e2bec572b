package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.sources.eth.EthMetrics

/** Traced mode: spans op → phase (build | run) → Spark job → stage, kept in
  * memory and written out at exit, plus per-op totals of the jobs each
  * phase ran. Every op runs under its own job group; the phase rides on a
  * local property, so a job is attributed to the op and phase that
  * submitted it. Everything is observed from outside the program through
  * a `SparkListener`. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  final case class Span(id: String, parent: String, name: String, start: Long,
      var end: Long = -1L, attrs: mutable.Map[String, Double] = mutable.Map.empty)

  /** Totals of the jobs one phase of one op ran. */
  final class PhaseStats {
    var jobs = 0; var stages = 0; var tasks = 0
    var taskS = 0.0
    var shuffleWriteB = 0L; var spillB = 0L
    var blocksFetched = 0L; var rowsEmitted = 0L
    var firstJobMs = Long.MaxValue
    val jobMs = mutable.ArrayBuffer.empty[Double]
  }

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[String, Span]
  private val stats = mutable.Map.empty[(String, String), PhaseStats]
  private val stageOwner = mutable.Map.empty[Int, (String, String, Int)]
  private val runStartMs = mutable.Map.empty[String, Long]
  /** JVM collection time while each op's plan ran (in local mode the
    * scheduler and the executors share the JVM). */
  private val runGcMs = mutable.Map.empty[String, Long]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum

  sc.addSparkListener(this)

  private def open(id: String, parent: String, name: String, start: Long): Span =
    synchronized {
      val s = Span(id, parent, name, start)
      spans += s; byId(id) = s; s
    }
  private def close(id: String, end: Long): Unit =
    synchronized { byId.get(id).foreach(_.end = end) }
  private def phase(op: String, ph: String): PhaseStats =
    synchronized { stats.getOrElseUpdate((op, ph), new PhaseStats) }

  def beginOp(op: String, kind: String): Unit = {
    val now = System.currentTimeMillis()
    sc.setJobGroup(op, kind, interruptOnCancel = false)
    sc.setLocalProperty(PhaseProp, Build)
    open(op, "", kind, now)
    open(s"$op/$Build", op, Build, now)
  }

  def beginRun(op: String): Unit = {
    val now = System.currentTimeMillis()
    close(s"$op/$Build", now)
    sc.setLocalProperty(PhaseProp, Run)
    synchronized { runStartMs(op) = now; runGcMs(op) = gcMs() }
    open(s"$op/$Run", op, Run, now)
  }

  def endOp(op: String): Unit = {
    val now = System.currentTimeMillis()
    close(s"$op/$Run", now); close(s"$op/$Build", now); close(op, now)
    synchronized { runGcMs.get(op).foreach(g => runGcMs(op) = gcMs() - g) }
    sc.clearJobGroup()
    sc.setLocalProperty(PhaseProp, null)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(GroupProp)))
    val ph = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseProp)))
    for (op <- group; p <- ph) synchronized {
      open(s"job-${e.jobId}", s"$op/$p", "job", e.time)
      e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, (op, p, e.jobId)))
      val st = phase(op, p)
      st.jobs += 1
      st.firstJobMs = math.min(st.firstJobMs, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(s"job-${e.jobId}").foreach { s =>
      s.end = e.time
      val (op, p) = (s.parent.takeWhile(_ != '/'), s.parent.dropWhile(_ != '/').drop(1))
      phase(op, p).jobMs += (e.time - s.start).toDouble
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOwner.get(info.stageId).foreach { case (op, p, job) =>
      val s = open(s"stage-${info.stageId}.${info.attemptNumber()}", s"job-$job", "stage",
        info.submissionTime.getOrElse(0L))
      s.end = info.completionTime.getOrElse(0L)
      s.attrs("tasks") = info.numTasks.toDouble
      phase(op, p).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { case (op, p, _) =>
      val st = phase(op, p)
      st.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        st.taskS += m.executorRunTime / 1000.0
        st.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        st.spillB += m.diskBytesSpilled
      }
      e.taskInfo.accumulables.foreach { a =>
        val v = a.update match { case Some(n: Long) => n; case _ => 0L }
        a.name match {
          case Some(BlocksFetchedMetric) => st.blocksFetched += v
          case Some(RowsEmittedMetric) => st.rowsEmitted += v
          case _ => ()
        }
      }
    }
  }

  /** Waits for queued events, then stops listening. */
  def finish(): Unit = {
    ListenerBusAccess.drain(sc)
    sc.removeSparkListener(this)
  }

  /** Per-layer metrics of the traced ops (means per op unless named
    * otherwise). */
  def layerMetrics(ops: Seq[String], outs: Seq[Outcome], cores: Int): Seq[(String, Double, String)] =
    synchronized {
      def st(op: String, p: String) = stats.getOrElse((op, p), new PhaseStats)
      val n = math.max(1, ops.size).toDouble
      def mean(f: PhaseStats => Double, p: String) = ops.map(o => f(st(o, p))).sum / n
      def both(f: PhaseStats => Long) = ops.map(o => f(st(o, Build)) + f(st(o, Run))).sum
      val runWall = outs.map(_.runS).sum
      val blocks = both(_.blocksFetched); val rows = both(_.rowsEmitted)
      val planS = ops.flatMap { o =>
        val f = st(o, Run).firstJobMs
        if (f == Long.MaxValue) None else runStartMs.get(o).map(s => (f - s) / 1000.0)
      }
      val jobMs = ops.flatMap(o => st(o, Run).jobMs)
      def avg(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      Seq(
        ("source.blocks_fetched", blocks / n, "count"),
        ("source.rows_emitted", rows / n, "count"),
        ("source.rows_per_block", if (blocks == 0) 0.0 else rows.toDouble / blocks, "ratio"),
        ("operators.build_s", outs.map(_.buildS).sum / n, "s"),
        ("operators.build_share", outs.map(_.buildS).sum / outs.map(_.latencyS).sum, "ratio"),
        ("plans.eager_jobs", mean(_.jobs, Build), "count"),
        ("exec.plan_s", avg(planS), "s"),
        ("exec.jobs", mean(_.jobs, Run), "count"),
        ("exec.stages", mean(_.stages, Run), "count"),
        ("exec.tasks", mean(_.tasks, Run), "count"),
        ("exec.task_s", mean(_.taskS, Run), "s"),
        ("exec.gc_s", ops.flatMap(runGcMs.get).sum / 1000.0 / n, "s"),
        ("exec.shuffle_write_mb", mean(_.shuffleWriteB / 1e6, Run), "MB"),
        ("exec.spill_mb", mean(_.spillB / 1e6, Run), "MB"),
        ("exec.job_ms_mean", avg(jobMs), "ms"),
        ("exec.core_util", ops.map(o => st(o, Run).taskS).sum / (runWall * cores), "ratio"))
    }

  /** Writes every span as one JSON document. */
  def write(path: String): Unit = synchronized {
    def q(s: String) = "\"" + s.replace("\"", "'") + "\""
    val body = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
      s"""{"id":${q(s.id)},"parent":${q(s.parent)},"name":${q(s.name)},""" +
        s""""start_ms":${s.start},"end_ms":${s.end},"attrs":$attrs}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val PhaseProp = "perfbench.phase"
  val GroupProp = "spark.jobGroup.id"
  val Build = "build"
  val Run = "run"
  /** Accumulator names of the chain scan's DSv2 custom metrics. */
  val BlocksFetchedMetric: String = new EthMetrics.BlocksFetched().description()
  val RowsEmittedMetric: String = new EthMetrics.RowsEmitted().description()
}
