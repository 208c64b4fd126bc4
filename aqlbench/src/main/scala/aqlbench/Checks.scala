package aqlbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks. None of them goes through the AQL engine: they compare
  * what a script wrote with a plain DataFrame computation or with the
  * ground truth the generator planted.
  */
object Checks {

  /** Rows of `actual` and `expected` (same key and value columns) that
    * disagree: a key on one side only, or a value off by more than a
    * relative `tol`. Zero means the frames hold the same rows.
    */
  def mismatches(actual: DataFrame, expected: DataFrame, keys: Seq[String],
      values: Seq[String], tol: Double = 1e-9): Long = {
    val a = actual.select((keys ++ values).map(col): _*)
      .toDF(keys ++ values.map("a_" + _): _*).withColumn("a_present", lit(true))
    val e = expected.select((keys ++ values).map(col): _*)
      .toDF(keys ++ values.map("e_" + _): _*).withColumn("e_present", lit(true))
    val j = a.join(e, keys, "full_outer")
    val bad = values.map { v =>
      val x = col("a_" + v).cast("double")
      val y = col("e_" + v).cast("double")
      x.isNull =!= y.isNull ||
        abs(x - y) > greatest(abs(y), lit(1.0)) * tol
    }.foldLeft(col("a_present").isNull || col("e_present").isNull)(_ || _)
    j.where(bad).count()
  }

  /** Near-dup survivors: exactly one id per planted group, every id that
    * belongs to no group, and nothing else. Returns the problems found.
    */
  def survivors(ids: Seq[Long], groups: Seq[Seq[Long]],
      singletons: Set[Long]): Seq[String] = {
    val got = ids.toSet
    val dup = ids.size - got.size
    val groupIds = groups.flatten.toSet
    val perGroup = groups.filter(g => g.count(got) != 1)
    val missing = singletons -- got
    val extra = got -- singletons -- groupIds
    Seq(
      if (dup > 0) Some(s"$dup duplicate survivor ids") else None,
      if (perGroup.nonEmpty) Some(s"${perGroup.size} planted groups without exactly one survivor, e.g. ${perGroup.head}") else None,
      if (missing.nonEmpty) Some(s"${missing.size} singleton docs dropped, e.g. ${missing.head}") else None,
      if (extra.nonEmpty) Some(s"${extra.size} unknown ids kept, e.g. ${extra.head}") else None
    ).flatten
  }

  /** A kept set must equal the expected set exactly. */
  def sameIds(what: String, got: Seq[Long], expected: Set[Long]): Seq[String] = {
    val g = got.toSet
    val missing = expected -- g
    val extra = g -- expected
    if (missing.isEmpty && extra.isEmpty && g.size == got.size) Nil
    else Seq(s"$what: ${missing.size} expected ids missing (e.g. ${missing.headOption.getOrElse("-")}), " +
      s"${extra.size} unexpected (e.g. ${extra.headOption.getOrElse("-")})")
  }

  /** Nearest-neighbour answers as (query, neighbour, rank) rows: every
    * planted query's rank-1 neighbour is its source, and no query returns
    * a neighbour listed in `forbidden` (deleted documents).
    */
  def topNeighbours(what: String, rows: Seq[(Long, Long, Int)],
      source: Map[Long, Long], forbidden: Set[Long] = Set.empty): Seq[String] = {
    val first = rows.filter(_._3 == 1).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val wrong = source.filter { case (q, s) => first.get(q) != Some(Seq(s)) }
    val stale = rows.filter(r => forbidden(r._2))
    Seq(
      if (wrong.nonEmpty) Some(s"$what: ${wrong.size} of ${source.size} planted queries without their source at rank 1, e.g. query ${wrong.head._1} -> ${first.get(wrong.head._1)}") else None,
      if (stale.nonEmpty) Some(s"$what: ${stale.size} answers name deleted docs, e.g. ${stale.head}") else None
    ).flatten
  }
}
