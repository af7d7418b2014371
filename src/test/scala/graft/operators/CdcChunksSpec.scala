package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.expr.CdcChunks

/** Properties of the streaming `cdc_chunks` kernel behind Dedup.cdcChunks
  * (q116): the operator equals the token-window formulation it replaced,
  * and interpreted eval equals generated code. q116's plan shape is
  * pinned in PlanShapeSpec.
  */
class CdcChunksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The posexplode + running-window + collect_list formulation that
    * Dedup.cdcChunks used before the kernel: the reference semantics.
    */
  private def reference(df: DataFrame, modulus: Int): DataFrame = {
    import graft.functions.graft_hash64
    import org.apache.spark.sql.expressions.Window
    val byDocPos = Window.partitionBy("doc_id").orderBy("pos")
    val chunked = df.select(col("doc_id").cast("long").as("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("boundary", graft_hash64(col("tok")) % modulus === 0)
      .withColumn("chunk_idx",
        (sum(when(col("boundary"), 1L).otherwise(0L)).over(byDocPos) -
          when(col("boundary"), 1L).otherwise(0L)).cast("int"))
    val chunks = chunked.groupBy("doc_id", "chunk_idx")
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("chunk"))
      .withColumn("chunk_hash", graft_hash64(col("chunk")))
    val multi = Window.partitionBy("chunk_hash")
    chunks
      .withColumn("shared",
        min(col("doc_id")).over(multi) =!= max(col("doc_id")).over(multi))
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
        col("chunk_hash"), col("shared"))
  }

  // small alphabet so chunks repeat across documents; astral code points
  // and empty tokens (leading, trailing and doubled spaces) included
  private val tokenGen: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("a", "b", "ab", "ba", "abc", "x", "yy", "the", "of"),
    2 -> Gen.const(""),
    2 -> Gen.oneOf("𝒳", "😀", "a😀b", "", "日本"))
  private val textGen: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    12 -> Gen.listOf(tokenGen).map(ts => Some(ts.mkString(" "))))

  /** `n` deterministic samples of (modulus, documents). */
  private def samples(n: Int): Seq[(Int, Seq[Option[String]])] = {
    var seed = Seed(116L)
    (1 to n).map { i =>
      val g = for {
        m <- Gen.choose(2, 16)
        docs <- Gen.listOfN(24, textGen)
      } yield (m, docs)
      val s = g.pureApply(Gen.Parameters.default.withSize(4 + i % 30), seed)
      seed = seed.next
      s
    }
  }

  private def docsDf(docs: Seq[Option[String]]): DataFrame = {
    val rows = docs.zipWithIndex.map { case (t, i) => Row(i.toLong, t.orNull) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
  }

  private def rows(df: DataFrame): Seq[(Long, Int, Int, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getBoolean(4)))
      .sortBy(r => (r._1, r._2)).toSeq

  test("property: Dedup.cdcChunks equals the window + collect_list reference") {
    samples(12).foreach { case (m, docs) =>
      val df = docsDf(docs)
      val got = rows(Dedup.cdcChunks(df, "doc_id", "text", modulus = m))
      val want = rows(reference(df, m))
      assert(got == want, s"modulus $m, docs ${docs.map(_.map(_.map(_.toInt.toHexString)))}")
    }
  }

  test("property: interpreted eval equals generated code") {
    def flat(a: Any): Seq[(Int, Int, Long)] =
      if (a == null) null
      else {
        val arr = a.asInstanceOf[ArrayData]
        (0 until arr.numElements).map { i =>
          val r = arr.getStruct(i, 3)
          (r.getInt(0), r.getInt(1), r.getLong(2))
        }
      }
    samples(40).foreach { case (m, docs) =>
      val e = CdcChunks(BoundReference(0, StringType, nullable = true), m)
      val proj = GenerateUnsafeProjection.generate(Seq(e))
      docs.foreach { t =>
        val row = InternalRow(t.map(UTF8String.fromString).orNull)
        val interpreted = flat(e.eval(row))
        val generated = proj(row)
        val codegen = if (generated.isNullAt(0)) null else flat(generated.getArray(0))
        assert(interpreted == codegen, s"modulus $m, text $t")
        // chunk_idx dense from 0; the token counts add back to the split
        t.foreach { s =>
          assert(interpreted.map(_._1) == interpreted.indices)
          assert(interpreted.map(_._2).sum == s.split(" ", -1).length)
        }
      }
    }
  }

  test("null text yields no chunks; empty text is one empty chunk") {
    val df = docsDf(Seq(None, Some(""), Some("a ")))
    val r = rows(Dedup.cdcChunks(df, "doc_id", "text", modulus = 4))
    assert(!r.exists(_._1 == 0L))
    assert(r.filter(_._1 == 1L) == Seq((1L, 0, 1, 0L, false)))
    assert(r.filter(_._1 == 2L).map(_._3).sum == 2)
  }

  test("cdc_chunks rejects modulus < 2") {
    intercept[IllegalArgumentException](graft.functions.cdc_chunks(col("t"), 1))
  }
}
