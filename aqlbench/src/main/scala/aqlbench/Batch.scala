package aqlbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Helpers shared by the workloads that run whole scripts in a loop. */
object Batch {

  /** Reads the parquet outputs of many ops at once; the op number comes
    * from the `/op-<n>` directory each op wrote, in column `op_`.
    */
  def readOps(spark: SparkSession, dirs: Iterable[String]): DataFrame =
    spark.read.parquet(dirs.toSeq: _*)
      .withColumn("op_", regexp_extract(col("_metadata.file_path"),
        "/op-([0-9]+)/", 1).cast("long"))

  def long(r: Row, c: String): Long = r.getAs[Any](c) match {
    case n: java.lang.Number => n.longValue()
    case other => throw new IllegalStateException(s"$c is not numeric: $other")
  }

  /** Median seconds of `reps` calls of `f`. */
  def timeMedian(reps: Int)(f: => Unit): Double = Stats.median((1 to reps).map { _ =>
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  })

  /** Rows per second of the minhash_sig kernel over `texts`, called from
    * plain SQL (not through a verb), replicated `reps` times so that one
    * call takes long enough to time.
    */
  def minhashRate(spark: SparkSession, texts: DataFrame, reps: Int): Double = {
    texts.select(col("text")).crossJoin(spark.range(reps))
      .createOrReplaceTempView("aqlbench_kernel_text")
    val rows = spark.table("aqlbench_kernel_text").count()
    val q = "SELECT max(element_at(minhash_sig(transform(split(text, ' '), " +
      "w -> xxhash64(w)), 128), 1)) FROM aqlbench_kernel_text"
    spark.sql(q).collect()
    rows / timeMedian(3)(spark.sql(q).collect())
  }

  /** Rows (vector pairs) per second of the vec_dot kernel. */
  def vecdotRate(spark: SparkSession, a: DataFrame, b: DataFrame): Double = {
    a.select(col("emb").as("x")).createOrReplaceTempView("aqlbench_kernel_a")
    b.select(col("emb").as("y")).createOrReplaceTempView("aqlbench_kernel_b")
    val rows = a.count() * b.count()
    val q = "SELECT max(vec_dot(x, y)) FROM aqlbench_kernel_a CROSS JOIN aqlbench_kernel_b"
    spark.sql(q).collect()
    rows / timeMedian(3)(spark.sql(q).collect())
  }

  /** Ops of one kind keyed by the op number in their output path. */
  final class Outputs {
    val dirs = mutable.LinkedHashMap.empty[Long, (OpRec, String)]
    def add(n: Long, op: OpRec, dir: String): Unit = dirs(n) = (op, dir)
    def ok: Seq[(Long, OpRec, String)] =
      dirs.toSeq.collect { case (n, (o, d)) if o.ok => (n, o, d) }
  }
}
