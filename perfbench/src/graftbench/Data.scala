package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the one table both workloads read: `documents`,
  * with the column names, types and value domains of the fixture table
  * the curation chain and the ingest gate were written against. The same
  * seed always writes the same rows.
  *
  * The corpus carries the structure the curation chain acts on: about
  * 5 % near-duplicates (an earlier document with a few words replaced,
  * tagged ` dup`) and about 0.3 % exact duplicates.
  */
object Data {

  /** Corpus size: documents per run. */
  val Documents = 1000

  private val vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val langs = Array("en", "en", "en", "es", "zh", "de", "fr")

  private def pick[T](r: SplittableRandom, xs: Array[T]): T = xs(r.nextInt(xs.length))

  /** Document texts: 40–100 words, near- and exact duplicates mixed in. */
  def documentTexts(r: SplittableRandom, n: Int): Array[String] = {
    val out = new Array[String](n)
    for (i <- 0 until n) {
      val roll = r.nextInt(1000)
      out(i) =
        if (i > 10 && roll < 3) out(r.nextInt(i))
        else if (i > 10 && roll < 53) {
          val words = out(r.nextInt(i)).split(' ').filter(_ != "dup")
          for (_ <- 0 until 3) words(r.nextInt(words.length)) = pick(r, vocab)
          words.mkString(" ") + " dup"
        } else Array.fill(40 + r.nextInt(61))(pick(r, vocab)).mkString(" ")
    }
    out
  }

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)

  /** Write `dir/documents.parquet`: [[Documents]] rows drawn from `seed`. */
  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    val r = new SplittableRandom(seed)
    val texts = documentTexts(r, Documents)
    val schema = StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType)))
    val rows = texts.indices.map(i => Row(i.toLong, texts(i), pick(r, langs),
      s"src${i % 20}", texts(i).length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
