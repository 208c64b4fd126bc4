package aqlbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The output checks must accept a right answer and reject one whose
  * expectation was corrupted; otherwise a wrong output could pass as a
  * correct op and never reach failed/attempted.
  */
class ChecksSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  test("mismatches: equal frames agree; a corrupted expected value fails") {
    val s = spark
    import s.implicits._
    val actual = Seq((1L, "a", 10.25, 2L), (2L, "b", 5.5, 1L)).toDF("k", "c", "v", "n")
    val expected = Seq((2L, "b", 5.5, 1L), (1L, "a", 10.25, 2L)).toDF("k", "c", "v", "n")
    assert(Checks.mismatches(actual, expected, Seq("k", "c"), Seq("v", "n")) == 0)
    val corrupted = Seq((1L, "a", 10.25, 2L), (2L, "b", 5.5001, 1L)).toDF("k", "c", "v", "n")
    assert(Checks.mismatches(actual, corrupted, Seq("k", "c"), Seq("v", "n")) == 1)
    val missingRow = Seq((1L, "a", 10.25, 2L)).toDF("k", "c", "v", "n")
    assert(Checks.mismatches(actual, missingRow, Seq("k", "c"), Seq("v", "n")) == 1)
    val wrongKey = Seq((1L, "a", 10.25, 2L), (2L, "x", 5.5, 1L)).toDF("k", "c", "v", "n")
    assert(Checks.mismatches(actual, wrongKey, Seq("k", "c"), Seq("v", "n")) == 2)
  }

  test("survivors: one per planted group plus every singleton") {
    val groups = Seq(Seq(1L, 2L), Seq(3L, 4L, 5L))
    val singles = Set(6L, 7L)
    assert(Checks.survivors(Seq(2L, 3L, 6L, 7L), groups, singles).isEmpty)
    // corrupted ground truth: 7 is no longer expected to survive
    assert(Checks.survivors(Seq(2L, 3L, 6L, 7L), groups, Set(6L)).nonEmpty)
    assert(Checks.survivors(Seq(1L, 2L, 3L, 6L, 7L), groups, singles).nonEmpty)
    assert(Checks.survivors(Seq(3L, 6L, 7L), groups, singles).nonEmpty)
  }

  test("sameIds and topNeighbours reject corrupted expectations") {
    assert(Checks.sameIds("kept", Seq(1L, 2L), Set(1L, 2L)).isEmpty)
    assert(Checks.sameIds("kept", Seq(1L, 2L), Set(1L, 3L)).nonEmpty)
    val rows = Seq((10L, 1L, 1), (10L, 5L, 2), (11L, 2L, 1))
    assert(Checks.topNeighbours("knn", rows, Map(10L -> 1L, 11L -> 2L)).isEmpty)
    assert(Checks.topNeighbours("knn", rows, Map(10L -> 1L, 11L -> 3L)).nonEmpty)
    assert(Checks.topNeighbours("knn", rows, Map(10L -> 1L), forbidden = Set(5L)).nonEmpty)
  }

  test("tail: highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs)._1 == 0.9)
    assert(Stats.tail(xs.take(40))._1 == 0.75)
    assert(Stats.tail(xs.take(19)) == (1.0, 19.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Nil).isNaN && Stats.tail(Nil)._2.isNaN)
    assert(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
  }
}
