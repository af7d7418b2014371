package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Histogram quantiles: bucket math on a known distribution, the
  * degenerate single-value range, null handling, and the property that
  * justifies the operator's place in the oracle gate — the result is
  * partition-order independent.
  */
class HistogramQuantilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def df(xs: Seq[Double]) = {
    import spark.implicits._
    xs.toDF("x")
  }

  test("uniform 1..100, 10 buckets: medians land in the expected bucket") {
    val out = HistogramQuantiles
      .quantiles(df((1 to 100).map(_.toDouble)), "x", 10, Seq(0.5, 0.9, 1.0))
      .collect().map(r => r.getDouble(0) ->
        (r.getInt(1), r.getLong(4), r.getLong(5))).toMap
    // width 9.9; ceil(0.5*100)=50 -> first bucket with cum>=50 is bucket 4
    // (values 1..50 fill buckets 0..4: bucket 4 covers [40.6,50.5) ->
    // cum at bucket 4 = 50)
    assert(out(0.5)._1 == 4, out)
    assert(out(0.5)._2 == 50L)
    assert(out(1.0)._1 == 9) // max lands in the clamped last bucket
    assert(out.values.forall(_._3 == 100L))
  }

  test("degenerate range (all values equal) lands everything in bucket 0") {
    val out = HistogramQuantiles
      .quantiles(df(Seq.fill(7)(42.0)), "x", 16, Seq(0.5, 0.99))
      .collect().map(r => (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    assert(out.forall(_._1 == 0))
    assert(out.forall(_._4 == 7L))
  }

  test("nulls are excluded from n and counts") {
    import spark.implicits._
    val d = Seq[Option[Double]](Some(1), None, Some(2), Some(3), None)
      .toDF("x")
    val out = HistogramQuantiles.quantiles(d, "x", 4, Seq(1.0)).collect()
    assert(out.head.getLong(5) == 3L)
  }

  test("quantileBin strata: uniform 1..100 quartiles put ~25 rows per bin") {
    val out = HistogramQuantiles
      .quantileBin(df((1 to 100).map(_.toDouble)), "x", 100, Seq(0.25, 0.5, 0.75))
      .groupBy("qbin").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // 100 buckets of width 0.99: quantile buckets are 24/49/74 (cum hits
    // 25/50/75 exactly); bin = #thresholds strictly below the row bucket
    assert(out.keySet == Set(0, 1, 2, 3), out)
    assert(out(0) == 25L && out(1) == 25L && out(2) == 25L && out(3) == 25L, out)
  }

  test("quantileBin keeps every input column and nulls get a null bin") {
    import spark.implicits._
    val d = Seq((Some(1.0), "a"), (Some(50.0), "b"), (None, "c"), (Some(100.0), "d"))
      .toDF("x", "tag")
    val out = HistogramQuantiles.quantileBin(d, "x", 10, Seq(0.5))
      .collect().map(r => r.getString(1) ->
        (if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
    assert(out("c").isEmpty)
    assert(out("a").contains(0) && out("d").contains(1))
  }

  test("quantileBin triggers two corpus aggregates, not three (VERDICT r11 #6)") {
    // stats + histogram share one subtree and the threshold row carries
    // lo/hi, so the corpus appears exactly 3 times in the plan (stats
    // aggregate, histogram aggregate, output pass). Before the refactor
    // quantileBin re-ran its own min/max on top of quantiles' stats and
    // histogram — 4 corpus scans at runtime. Parquet-backed so the corpus
    // is distinguishable from the tiny quantile-probe LocalRelation.
    val dir = java.nio.file.Files.createTempDirectory("qbin_scan").toString
    df((1 to 100).map(_.toDouble)).write.mode("overwrite").parquet(dir)
    val d = spark.read.parquet(dir)
    val plan = HistogramQuantiles.quantileBin(d, "x", 10, Seq(0.5))
      .queryExecution.optimizedPlan.toString
    val refs = "parquet".r.findAllIn(plan).size
    assert(refs == 3, s"expected exactly 3 corpus references (2 aggregates " +
      s"+ output pass), got $refs:\n$plan")
  }

  test("quantileBin tolerates caller columns named lo/hi/tb (reserved-name fix)") {
    import spark.implicits._
    val d = Seq((1.0, 9.9, 0.0, "t"), (50.0, 1.1, 2.0, "u"), (100.0, 2.2, 3.0, "w"))
      .toDF("x", "lo", "hi", "tb")
    val out = HistogramQuantiles.quantileBin(d, "x", 10, Seq(0.5))
    assert(out.columns.toSeq == Seq("x", "lo", "hi", "tb", "qbin"))
    assert(out.where(org.apache.spark.sql.functions.col("lo") === 9.9).count() == 1)
  }

  test("quantileBin rejects a q outside [0, 1] and a repeated q") {
    // either input leaves fewer thresholds than |qs|; unchecked, ANSI
    // element_at fails at run time with INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    Seq(Seq(0.5, 1.5), Seq(0.5, 0.5)).foreach { qs =>
      val e = intercept[IllegalArgumentException] {
        HistogramQuantiles.quantileBin(df((1 to 100).map(_.toDouble)), "x", 16, qs)
      }
      assert(e.getMessage.contains("quantileBin") && e.getMessage.contains("qs"),
        e.getMessage)
    }
  }

  test("result is partition-layout independent (the gate property)") {
    val base = df((1 to 1000).map(i => (i * 37 % 211).toDouble))
    val a = HistogramQuantiles.quantiles(base, "x", 32, Seq(0.25, 0.5, 0.75))
      .collect().toSeq.sortBy(_.getDouble(0))
    val b = HistogramQuantiles.quantiles(base.repartition(7), "x", 32,
        Seq(0.25, 0.5, 0.75))
      .collect().toSeq.sortBy(_.getDouble(0))
    assert(a.map(_.toSeq) == b.map(_.toSeq))
  }
}
