package perfbench

import java.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded curation corpus shaped like the repository's sf0.1 test tables
  * (`documents`, `embeddings`), then scaled up the way
  * `tools/gen_scale_corpus.py` does it: copy `i > 0` of every document
  * shifts its key and appends `" copy<i>"` (a near-duplicate), copies of
  * every vector repeat it under a shifted key.
  *
  * The base shape follows sf0.1: texts are words drawn from a small
  * vocabulary cut to 44..577 characters, 5% of documents repeat an earlier
  * document with a `" dup"` suffix, languages are skewed towards `en`,
  * sources are 20 equal buckets, vectors are 64-d unit Gaussians with one
  * of 10 labels.
  */
object Corpus {
  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "en", "en", "zh", "de", "fr", "es")
  val Dim = 64
  val Files = 8

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private def text(rng: Random): String = {
    val len = 44 + rng.nextInt(534)
    val sb = new StringBuilder
    while (sb.length < len) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(Vocab(rng.nextInt(Vocab.length)))
    }
    sb.substring(0, len).trim
  }

  /** Writes `documents.parquet` and `embeddings.parquet` under `dir`:
    * `baseDocs` documents and `baseVecs` vectors, each repeated `copies`
    * times. */
  def write(spark: SparkSession, dir: String, seed: Long,
      baseDocs: Int, baseVecs: Int, copies: Int): Unit = {
    val rng = new Random(seed * 7919L + 17L)
    val base = new Array[String](baseDocs)
    var i = 0
    while (i < baseDocs) {
      base(i) =
        if (i > 20 && rng.nextInt(20) == 0) base(rng.nextInt(i)) + " dup"
        else text(rng)
      i += 1
    }
    val meta = Array.fill(baseDocs)(
      (Langs(rng.nextInt(Langs.length)), s"src${rng.nextInt(20)}"))
    val docs = for (c <- 0 until copies; d <- 0 until baseDocs) yield {
      val t = if (c == 0) base(d) else s"${base(d)} copy$c"
      Row(c.toLong * baseDocs + d, t, meta(d)._1, meta(d)._2, t.length.toLong)
    }
    val vecs = Array.fill(baseVecs) {
      val v = Array.fill(Dim)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (v.map(x => (x / norm).toFloat).toSeq, rng.nextInt(10))
    }
    val embs = for (c <- 0 until copies; k <- 0 until baseVecs)
      yield Row(c.toLong * baseVecs + k, vecs(k)._1, vecs(k)._2)
    // contiguous key ranges, one file each, so that scans run in parallel
    def save(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, Files), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save(docs, documentsSchema, "documents")
    save(embs, embeddingsSchema, "embeddings")
  }
}
