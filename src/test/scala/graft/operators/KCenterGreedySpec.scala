package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.cosine_sim

/** Similarity.kCenterGreedy against the DataFrame loop it replaced, on
  * generated vector sets with tied distances, null, zero-norm, null-element
  * and short vectors, at 1, 3 and 8 input partitions.
  */
class KCenterGreedySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The loop kCenterGreedy ran before its per-center RDD job: a
    * persisted candidate frame, a TakeOrdered(1) collect per center, and
    * `best` re-planned as greatest(best, coalesce(cosine_sim(·, center), -2)).
    */
  private def reference(corpus: DataFrame, k: Int): Seq[(Int, Long, Option[Double])] = {
    val base = corpus.select(col("vec_id"), col("embedding"))
      .where(col("embedding").isNotNull &&
        cosine_sim(col("embedding"), col("embedding")).isNotNull)
      .cache()
    try {
      val seed = base.orderBy("vec_id").limit(1).collect()(0)
      def centerEmb(row: Row): Column = typedlit(row.getSeq[Float](1))
      var picked = Seq((1, seed.getLong(0), Option.empty[Double]))
      var scored = base.withColumn("best",
        coalesce(cosine_sim(col("embedding"), centerEmb(seed)), lit(-2d)))
      var chosen = Set(seed.getLong(0))
      (2 to k).foreach { i =>
        val next = scored.where(!col("vec_id").isInCollection(chosen))
          .orderBy(col("best"), col("vec_id")).limit(1).collect()(0)
        picked :+= ((i, next.getLong(0), Some(next.getDouble(2))))
        chosen += next.getLong(0)
        scored = scored.withColumn("best", greatest(col("best"),
          coalesce(cosine_sim(col("embedding"), centerEmb(next)), lit(-2d))))
      }
      picked
    } finally base.unpersist()
  }

  private def picks(df: DataFrame): Seq[(Int, Long, Option[Double])] =
    df.orderBy("sel_order").collect()
      .map(r => (r.getInt(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toSeq

  private def vectors(rows: Seq[(Long, Seq[java.lang.Float])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, e) => Row(id, e) }, 2),
      StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>"))

  private def check(rows: Seq[(Long, Seq[java.lang.Float])], k: Int): Unit = {
    val df = vectors(rows)
    val want = reference(df, k)
    Seq(1, 3, 8).foreach { n =>
      assert(picks(Similarity.kCenterGreedy(df.repartition(n), k)) == want,
        s"k $k, $n partitions, vectors $rows")
    }
  }

  private def f(x: Float): java.lang.Float = java.lang.Float.valueOf(x)

  // small integer components: many cosines tie exactly, so the vec_id
  // tie-break decides; null, all-zero, null-element and 2-dim vectors mix in
  private val vecGen: Gen[Seq[java.lang.Float]] = Gen.frequency(
    12 -> Gen.listOfN(3, Gen.oneOf(-1f, 0f, 1f, 2f).map(f)),
    1 -> Gen.const(null),
    1 -> Gen.const(Seq(f(0f), f(0f), f(0f))),
    1 -> Gen.const(Seq(f(1f), null, f(0f))),
    1 -> Gen.listOfN(2, Gen.oneOf(-1f, 1f).map(f)))
  private val setGen: Gen[(Int, Seq[(Long, Seq[java.lang.Float])])] = for {
    n <- Gen.choose(6, 16)
    vecs <- Gen.listOfN(n, vecGen)
    ids <- Gen.pick(n, 1L to 100L)
    k <- Gen.choose(1, 5)
  } yield (k, ids.toSeq.zip(vecs))

  private def valid(e: Seq[java.lang.Float]): Boolean =
    e != null && !e.contains(null) && e.exists(_ != 0f)

  test("property: picks equal the DataFrame loop at 1, 3 and 8 partitions") {
    var seed = Seed(159L)
    var checked = 0
    while (checked < 6) {
      val (k, rows) = setGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      if (rows.count(r => valid(r._2)) >= k) {
        check(rows, k)
        checked += 1
      }
    }
  }

  test("tied distances break by vec_id; degenerate vectors are never picked") {
    val rows = Seq(
      (7L, Seq(f(1f), f(0f))), (3L, Seq(f(0f), f(1f))), (5L, Seq(f(0f), f(-1f))),
      (4L, Seq(f(-1f), f(0f))), (1L, null), (2L, Seq(f(0f), f(0f))),
      (6L, Seq(f(1f), null)))
    // seed 3; 5 is opposite (cos -1); then 4 and 7 tie at cos 0 to both
    assert(picks(Similarity.kCenterGreedy(vectors(rows), 3)).map(_._2) == Seq(3L, 5L, 4L))
    check(rows, 4)
  }

  test("k past the candidate count is refused with a named error") {
    val e = intercept[IllegalArgumentException] {
      Similarity.kCenterGreedy(vectors(Seq((1L, Seq(f(1f))), (2L, null))), 2)
    }
    assert(e.getMessage.startsWith("kCenterGreedy: k = 2 but only 1 candidate"), e.getMessage)
  }
}
