package perfbench

import java.util.UUID

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Session set-up, op forcing and the output fingerprint shared by every
  * workload. */
object Harness {
  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs a plan to completion without keeping its rows — the forcing the
    * repository's `graft.Bench` uses. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-insensitive digest of a result: row count, sum and xor of a
    * per-row 64-bit hash. */
  final case class Fp(rows: Long, sum: Long, xor: Long) {
    override def toString: String = s"$rows/$sum/$xor"
  }

  private val Modulus = 2147483647L

  /** Doubles are hashed after rounding to 6 decimals when `roundDoubles`:
    * aggregates over partitions may differ in the last bits between runs. */
  private def rowHash(schema: StructType, roundDoubles: Boolean): Column =
    xxhash64(schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType if roundDoubles => round(col(s"`${f.name}`"), 6)
        case _ => col(s"`${f.name}`")
      }
    }: _*)

  /** Forces `df` through `sink` (a noop write by default) and returns the
    * fingerprint Spark observed while the rows streamed past. */
  def runObserved(df: DataFrame, roundDoubles: Boolean = false)
      (sink: DataFrame => Unit = noop): Fp = {
    val obs = Observation(s"fp_${UUID.randomUUID().toString.replace('-', '_')}")
    val h = rowHash(df.schema, roundDoubles)
    sink(df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(pmod(h, lit(Modulus))), lit(0L)).as("s"),
      coalesce(bit_xor(h), lit(0L)).as("x")))
    val r = Await.result(obs.future, 60.seconds)
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The same digest as [[runObserved]] (without rounding), computed on the
    * JVM from rows built outside Spark. */
  def fingerprint(rows: Seq[Row], schema: StructType): Fp = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val hash = new XxHash64(schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable)
    })
    var s = 0L; var x = 0L
    rows.foreach { r =>
      val h = hash.eval(toInternal(r).asInstanceOf[InternalRow]).asInstanceOf[Long]
      s += java.lang.Math.floorMod(h, Modulus); x ^= h
    }
    Fp(rows.size.toLong, s, x)
  }

  /** Spark's `xxhash64` of string columns (nulls skipped, seed 42). */
  def xxhash64Strings(values: String*): Long =
    new XxHash64(values.indices.map(i => BoundReference(i, StringType, nullable = true)))
      .eval(InternalRow.fromSeq(values.map(v => if (v == null) null else UTF8String.fromString(v))))
      .asInstanceOf[Long]

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
