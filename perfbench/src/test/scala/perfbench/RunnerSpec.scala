package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import Runner.QueryDef

class RunnerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Runs the queries as one pass; returns the printed records. */
  private def records(qs: QueryDef*): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val s = new Runner.Session(spark, "test", out += _)
    s.window(qs, 1, new scala.util.Random(1))
    out.toSeq
  }

  private val good = QueryDef("good", _.range(3).toDF(), (_, rows) =>
    if (rows.length == 3) None else Some("wrong count"))

  test("a query that throws is recorded as failed, and the run goes on") {
    val boom = QueryDef("boom", _ => throw new IllegalStateException("deliberate"), (_, _) => None)
    val rs = records(boom, good)
    assert(rs.exists(r => r.contains("\"query\":\"boom\"") && r.contains("\"ok\":false") &&
      r.contains("deliberate")))
    assert(rs.exists(r => r.contains("\"query\":\"good\"") && r.contains("\"ok\":true")))
  }

  test("a query with a wrong result is recorded as failed") {
    val wrong = QueryDef("wrong", _.range(4).toDF(), good.check)
    val rs = records(wrong)
    assert(rs.exists(r => r.contains("\"ok\":false") && r.contains("wrong count")))
  }

  test("each query starts with an empty cache and reports what it leaves behind") {
    val leaky = QueryDef("leaky", s => {
      val d = s.range(5).toDF()
      d.persist()
      d.count()
      d
    }, (_, _) => None)
    val rs = records(leaky, leaky)
    assert(rs.count(_.contains("\"cached_left\":1")) == 2, rs.mkString("\n"))
  }

  test("per-query records stay under 4 KB even with a long error") {
    val long = QueryDef("long", _ => throw new RuntimeException("x" * 100000), (_, _) => None)
    records(long).foreach(r => assert(r.getBytes("UTF-8").length < 4096))
  }

  test("digests ignore row order and follow check.py's float rules") {
    val schema = StructType(Seq(StructField("b", DoubleType), StructField("a", StringType)))
    val d1 = Digest.of(schema, Array(Row(1.5, "x"), Row(Double.NaN, "y"), Row(-0.0, "z")))
    val d2 = Digest.of(schema, Array(Row(0.0, "z"), Row(1.5, "x"), Row(Double.NaN, "y")))
    assert(d1 == d2)
    assert(d1 != Digest.of(schema, Array(Row(1.5000000000000002, "x"), Row(Double.NaN, "y"), Row(0.0, "z"))))
    val swapped = StructType(Seq(StructField("a", StringType), StructField("b", DoubleType)))
    assert(d1 == Digest.of(swapped, Array(Row("x", 1.5), Row("y", Double.NaN), Row("z", 0.0))))
  }
}
