package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `ordered_struct_sum(ts)` against its documented reference form
  * `aggregate(array_sort(ts), 0.0D, (acc, x) -> acc + x.v)`, bit for bit,
  * on arrays where the summation order changes the double result.
  */
class OrderedStructSumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def bothForms(keyType: DataType, arrays: Seq[Seq[(Any, java.lang.Double)]])
      : Seq[(java.lang.Double, java.lang.Double)] = {
    val elem = StructType(Seq(StructField("k", keyType), StructField("v", DoubleType)))
    val schema = StructType(Seq(StructField("ts", ArrayType(elem))))
    val rows = arrays.map(a => Row(a.map { case (k, v) => Row(k, v) }))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    df.select(graft.functions.ordered_struct_sum(col("ts")),
        expr("aggregate(array_sort(ts), 0.0D, (acc, x) -> acc + x.v)"))
      .collect().map(r => (r.get(0).asInstanceOf[java.lang.Double],
        r.get(1).asInstanceOf[java.lang.Double])).toSeq
  }

  private def assertBitEqual(got: Seq[(java.lang.Double, java.lang.Double)]): Unit =
    got.foreach { case (kernel, ref) =>
      if (ref == null) assert(kernel == null, s"kernel $kernel, reference null")
      else {
        assert(kernel != null, s"kernel null, reference $ref")
        assert(java.lang.Double.doubleToRawLongBits(kernel) ==
          java.lang.Double.doubleToRawLongBits(ref), s"kernel $kernel, reference $ref")
      }
    }

  // 1e16 + 1 rounds back to 1e16, so where the key-null element lands in
  // the sort decides the sum: first gives 0.0, last gives 1.0
  private val big = java.lang.Double.valueOf(1e16)
  private val negBig = java.lang.Double.valueOf(-1e16)
  private val one = java.lang.Double.valueOf(1.0)

  test("a null key sorts where array_sort puts it and keeps summing (string keys)") {
    val got = bothForms(StringType, Seq(
      Seq(("b", big), (null, one), ("a", negBig)),
      Seq((null, one), (null, negBig), ("a", big)),
      Seq(("a", one), (null, java.lang.Double.valueOf(0.5))),
      Seq((null, null), ("a", one)),
      Seq(("z", negBig), (null, big), (null, one))))
    assert(got.head._2 != null)
    assertBitEqual(got)
  }

  test("a null key sorts where array_sort puts it and keeps summing (int and bigint keys)") {
    for (kt <- Seq(IntegerType, LongType)) {
      def k(i: Int): Any = if (kt == IntegerType) i else i.toLong
      assertBitEqual(bothForms(kt, Seq(
        Seq((k(2), big), (null, one), (k(1), negBig)),
        Seq((k(-5), negBig), (null, one), (k(7), big), (null, negBig)),
        Seq((null, one)))))
    }
  }

  test("no null keys: equal to the reference form, ties broken by v") {
    assertBitEqual(bothForms(StringType, Seq(
      Seq(("b", big), ("a", one), ("a", negBig)),
      Seq(),
      Seq(("a", one), ("b", null)))))
  }
}
