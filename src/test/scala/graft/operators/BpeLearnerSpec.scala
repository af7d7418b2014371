package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The BPE learner (TextAnalysis.bpeMerges / bpeVocabFreq) against the
  * DataFrame replace-chain loop it replaced, on generated small corpora,
  * and its plan-time job count.
  */
class BpeLearnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  type Merge = (Int, String, String, String, Long)

  /** The replace-chain learner that bpeCore ran before its per-step RDD
    * job: a sentinel-spaced symbol column, one groupBy + orderBy + limit(1)
    * per step, the merge applied as a double `replace` on the column.
    * Returns the merges and the final (s, cnt) vocabulary.
    */
  private def reference(df: DataFrame, steps: Int): (Seq[Merge], DataFrame) = {
    var vocab = df
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(
        concat(lit(" "),
          expr("array_join(transform(sequence(1, char_length(w)), i -> substr(w, i, 1)), ' ')"),
          lit(" ")).as("s"),
        col("cnt"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val best = vocab
        .select(col("cnt"), split(trim(col("s")), " ").as("a"))
        .where(size(col("a")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(a) - 1), i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))"))
          .as("pair"))
        .groupBy("pair").agg(sum("cnt").as("pc"))
        .orderBy(col("pc").desc, col("pair").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        val Array(l, r) = pair.split(" ", 2)
        merges += ((step, l, r, l + r, best(0).getLong(1)))
        def merge1(c: Column): Column =
          replace(c, lit(" " + pair + " "), lit(" " + l + r + " "))
        vocab = vocab.withColumn("s", merge1(merge1(col("s")))).localCheckpoint()
        step += 1
      }
    }
    (merges.toSeq, vocab)
  }

  private def referenceFreq(df: DataFrame, steps: Int, k: Int): Seq[(String, Long)] =
    reference(df, steps)._2
      .select(col("cnt"), explode(split(trim(col("s")), " ")).as("token"))
      .groupBy("token").agg(sum("cnt").as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k).collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  private def learned(df: DataFrame, steps: Int): Seq[Merge] =
    TextAnalysis.bpeMerges(df, "text", steps).orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq

  private def freq(df: DataFrame, steps: Int, k: Int): Seq[(String, Long)] =
    TextAnalysis.bpeVocabFreq(df, "text", steps, k).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  private def check(docs: Seq[String], steps: Int): Unit = {
    val df = docs.toDF("text")
    val (want, _) = reference(df, steps)
    assert(learned(df, steps) == want, s"steps $steps, docs $docs")
    assert(freq(df, steps, 1000) == referenceFreq(df, steps, 1000), s"steps $steps, docs $docs")
  }

  // U+E000 sorts after the astral U+1F600 in UTF-16 (0xE000 > 0xD83D) but
  // before it in UTF-8 bytes (0xEE < 0xF0): a count tie between the two
  // pairs is where String.compareTo and Spark's string order disagree
  private val bmpHigh = "\uE000"
  private val astral = "\uD83D\uDE00" // U+1F600

  private val wordGen: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("aaaa", "aaa", "aa", "ab", "abab", "ba", "low", "lower", "newest"),
    3 -> Gen.listOfN(3, Gen.oneOf("a", "b", "c", bmpHigh, astral)).map(_.mkString),
    1 -> Gen.oneOf("", "x", "a" + bmpHigh, "a" + astral))
  private val corpusGen: Gen[(Int, Seq[String])] = for {
    steps <- Gen.choose(1, 10)
    docs <- Gen.listOfN(6, Gen.listOf(wordGen).map(_.mkString(" ")))
  } yield (steps, docs)

  test("property: merges and vocabulary frequencies equal the replace-chain reference") {
    var seed = Seed(187L)
    (1 to 10).foreach { i =>
      val (steps, docs) = corpusGen.pureApply(Gen.Parameters.default.withSize(3 + i), seed)
      seed = seed.next
      check(docs, steps)
    }
  }

  test("count ties break by pair in UTF-8 byte order, not UTF-16 order") {
    val docs = Seq(s"a$bmpHigh a$astral")
    val r = learned(docs.toDF("text"), 1)
    assert(r == Seq((1, "a", bmpHigh, "a" + bmpHigh, 1L)))
    check(docs, 2)
  }

  test("runs merge greedily left to right: aaaa and aaa") {
    check(Seq("aaaa aaa", "aaa aaaa aaaa"), 4)
    check(Seq("aaa"), 3)
  }

  test("steps beyond the available merges stop at exhaustion") {
    val docs = Seq("ab ab", "c")
    assert(learned(docs.toDF("text"), 8) == Seq((1, "a", "b", "ab", 2L)))
    check(docs, 8)
    // no pairs at all: an empty merge table and character frequencies
    check(Seq("a b a", ""), 5)
  }

  test("bpeMerges(steps = 8) starts at most 12 Spark jobs while building") {
    val sc = spark.sparkContext
    val docs = (1 to 40).map(i => Seq("low", "lower", "newest", "widest", s"w$i")
      .take(1 + i % 5).mkString(" ")).toDF("text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftTestBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val merges = TextAnalysis.bpeMerges(docs, "text", steps = 8)
      org.apache.spark.sql.GraftTestBridge.drainListeners(sc)
      val built = jobs.get()
      assert(merges.collect().length == 8)
      assert(built <= 12, s"$built jobs")
    } finally sc.removeSparkListener(listener)
  }
}
