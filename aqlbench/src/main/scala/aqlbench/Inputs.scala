package aqlbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

/** Seeded input generation shared by the workloads. Every generator draws
  * from a SplittableRandom derived from the run's seed, so one seed always
  * yields the same files.
  */
object Inputs {

  final case class Table(name: String, path: String, rows: Long, bytes: Long)

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Bytes of every regular file under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def write(df: DataFrame, dir: Path, name: String): Table = {
    val p = dir.resolve(name)
    df.write.mode("overwrite").parquet(p.toString)
    val rows = df.sparkSession.read.parquet(p.toString).count()
    Table(name, p.toString, rows, bytesUnder(p))
  }

  /** A vocabulary of distinct lowercase words, 3–9 letters long. */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + r.nextInt(7)
      seen += Iterator.fill(len)(('a' + r.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  def randomDoc(r: SplittableRandom, vocab: Array[String], words: Int)
      : Array[String] = Array.fill(words)(vocab(r.nextInt(vocab.length)))

  /** `doc` with `k` distinct positions replaced by different words. One
    * replacement in a 40-word document changes at most 3 of its 38 word
    * 3-shingles, a Jaccard similarity of about 0.85 to the original.
    */
  def nearCopy(r: SplittableRandom, vocab: Array[String], doc: Array[String],
      k: Int): Array[String] = {
    val out = doc.clone()
    val positions = scala.collection.mutable.Set.empty[Int]
    while (positions.size < k) positions += r.nextInt(doc.length)
    positions.foreach { i =>
      var w = doc(i)
      while (w == doc(i)) w = vocab(r.nextInt(vocab.length))
      out(i) = w
    }
    out
  }

  /** A random unit vector of `dim` Gaussian components. */
  def unitVector(r: SplittableRandom, dim: Int): Array[Double] =
    normalize(Array.fill(dim)(gaussian(r)))

  def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def gaussian(r: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian on JDK 17
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** The stored-index key of a text: Spark's xxhash64 of the string, as
    * the INDEX build and in-plan KNN JACCARD key their entries.
    */
  def contentHash(spark: SparkSession, texts: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    texts.distinct.toDF("t")
      .select(col("t"), org.apache.spark.sql.functions.xxhash64(col("t")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  def docsFrame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text").repartition(1)
  }
}
