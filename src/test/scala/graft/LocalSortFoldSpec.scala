package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal, Rand, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.jobs
import graft.rules.LocalSortFold

/** The Sort-over-LocalRelation fold: with the rule on and off, a sorted
  * local relation gives the same rows (rows with tied keys compared as a
  * multiset), on nulls first and last, NaN, -0.0/0.0, astral-plane strings,
  * multi-key orderings and `orderBy(..).limit(n)`; the folded sort starts no
  * Spark job; and the rule leaves partition-local sorts, non-deterministic
  * keys and non-local children alone.
  */
class LocalSortFoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows = Seq[(Option[Double], Option[String], Int)](
    (None, Some("b"), 1), (Some(Double.NaN), Some("😀"), 2), (Some(-0.0), Some("a"), 3),
    (Some(0.0), None, 4), (Some(1.5), Some("𠀋"), 5), (Some(Double.NegativeInfinity), Some(""), 6),
    (Some(Double.PositiveInfinity), Some("ｱ"), 7), (Some(Double.NaN), None, 8),
    (Some(-0.0), Some("😀"), 9), (None, Some("a"), 10), (Some(1.5), Some("a"), 11),
    (Some(0.0), Some("￿"), 12), (Some(-2.0), Some("😀x"), 13), (Some(0.0), Some("a"), 14))
    .toDF("k", "s", "v")

  /** `f` evaluated with LocalSortFold removed from the session's rules. */
  private def ruleOff[T](f: => T): T = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved.filterNot(_ eq LocalSortFold)
    try f finally spark.experimental.extraOptimizations = saved
  }

  /** A sort key as the SQL ordering compares it: NaN equals NaN, -0.0
    * equals 0.0.
    */
  private def key(v: Any): Any = v match {
    case d: Double if d.isNaN => "NaN"
    case d: Double if d == 0.0 => 0.0
    case other => other
  }

  /** Consecutive rows grouped by their key columns, each group a multiset. */
  private def tieGroups(rs: Seq[Row], keys: Seq[Int]): Seq[(Seq[Any], Seq[String])] =
    rs.foldLeft(List.empty[(Seq[Any], List[String])]) { (acc, r) =>
      val k = keys.map(i => key(r.get(i)))
      acc match {
        case (hk, g) :: tail if hk == k => (hk, r.toString :: g) :: tail
        case _ => (k, List(r.toString)) :: acc
      }
    }.reverse.map { case (k, g) => (k, g.sorted) }

  private val orderings: Seq[(String, Seq[Column], Seq[Int])] = Seq(
    ("k asc nulls first", Seq(col("k").asc_nulls_first), Seq(0)),
    ("k desc nulls last", Seq(col("k").desc_nulls_last), Seq(0)),
    ("k asc nulls last", Seq(col("k").asc_nulls_last), Seq(0)),
    ("s asc nulls last, k desc", Seq(col("s").asc_nulls_last, col("k").desc), Seq(1, 0)),
    ("s desc nulls first, k asc, v desc",
      Seq(col("s").desc_nulls_first, col("k").asc, col("v").desc), Seq(1, 0, 2)))

  orderings.foreach { case (name, order, keys) =>
    test(s"rule on and off give the same rows: $name") {
      def sorted: DataFrame = rows.orderBy(order: _*)
      val (on, n) = jobs(sorted.collect().toSeq)
      val off = ruleOff(sorted.collect().toSeq)
      assert(on.length == 14)
      assert(tieGroups(on, keys) == tieGroups(off, keys))
      assert(n == 0, s"$n jobs with the rule on")
      assert(sorted.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      assert(ruleOff(sorted.queryExecution.optimizedPlan.exists(_.isInstanceOf[Sort])))
    }
  }

  test("orderBy(..).limit(n) folds whole and keeps the first n rows") {
    def top: DataFrame = rows.orderBy(col("s").desc_nulls_last, col("k").asc_nulls_first, col("v"))
      .select("v", "s").limit(5)
    val (on, n) = jobs(top.collect().toSeq)
    assert(on == ruleOff(top.collect().toSeq))
    assert(on.map(_.getInt(0)) == Seq(5, 13, 9, 2, 12), "UTF-8 byte order puts astral strings above U+FFFF")
    assert(n == 0, s"$n jobs with the rule on")
    assert(top.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
  }

  test("the rule leaves partition-local sorts, non-deterministic keys and non-local children alone") {
    val local = rows.queryExecution.optimizedPlan
    assert(local.isInstanceOf[LocalRelation])
    def unchanged(p: LogicalPlan): Boolean = LocalSortFold(p) eq p
    val byK = Seq(SortOrder(local.output.head, Ascending))
    assert(!unchanged(Sort(byK, global = true, local)), "the positive control folds")
    assert(unchanged(Sort(byK, global = false, local)))
    assert(unchanged(Sort(Seq(SortOrder(Rand(Literal(1L)), Ascending)), global = true, local)))
    assert(rows.sortWithinPartitions("k").queryExecution.optimizedPlan
      .exists { case s: Sort => !s.global; case _ => false })
    val range = spark.range(20).orderBy(desc("id"))
    assert(range.queryExecution.optimizedPlan.exists(_.isInstanceOf[Sort]))
    assert(range.collect().toSeq.map(_.longValue) == (19L to 0L by -1))
  }
}
