package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `Dedup.lshNearDupPairs`, whose bands come from the `minhash_bands`
  * kernel and whose candidates verify on in-row shingle-hash arrays, returns
  * exactly the rows of [[LshReference]] (min-aggregate signatures, band fold
  * over the signature columns, exploded-shingle verify) on small random
  * corpora: docs shorter than k, repeated shingles, empty tokens from double
  * spaces, null text, astral code points and duplicate texts, at 1 and 4
  * partitions.
  */
class LshPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val k = 3
  private val threshold = 0.3
  private val vocab = Vector("a", "b", "c", "ab", "", "é", "😀", "𝔸", "語")

  /** `n` random docs after a fixed set of edge cases; ids are unique. */
  private def corpus(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val fixed = Seq(
      "a b", // shorter than k
      "a b a b a b a b", // repeated shingles
      "a  b  c  a", // double spaces: empty tokens
      null,
      "😀 𝔸 語 😀 𝔸 語 é", // astral code points
      "😀 𝔸 語 😀 𝔸 語 é", // duplicate text
      "")
    val docs = scala.collection.mutable.ArrayBuffer[String](fixed: _*)
    while (docs.length < fixed.length + n) {
      val earlier = docs.filter(_ != null)
      docs += (rnd.nextInt(10) match {
        case 0 => null
        case 1 | 2 => earlier(rnd.nextInt(earlier.length))
        case 3 | 4 | 5 =>
          val toks = earlier(rnd.nextInt(earlier.length)).split(" ", -1)
          toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.length))
          toks.mkString(" ")
        case _ => Seq.fill(rnd.nextInt(11))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      })
    }
    docs.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }.toSeq
  }

  private def rows(df: DataFrame): Set[(Any, Any, Double)] =
    df.collect().map(r => (r.get(0), r.get(1), r.getDouble(2))).toSet

  private def withShufflePartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, saved)
  }

  private def check(df: DataFrame, numHashes: Int, bands: Int): Unit = {
    val got = Dedup.lshNearDupPairs(df, "doc_id", "text", k, numHashes, bands, threshold)
    val want = LshReference.pairs(df, "doc_id", "text", k, numHashes, bands, threshold)
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    val (g, w) = (rows(got), rows(want))
    assert(w.exists(_._3 < 1.0) && w.exists(_._3 == 1.0), s"the corpus must hold near and exact pairs: $w")
    assert(g == w, s"only operator: ${g -- w}; only reference: ${w -- g}")
  }

  for ((numHashes, bands) <- Seq((16, 4), (16, 8)); parts <- Seq(1, 4))
    test(s"lshNearDupPairs returns the reference's rows: ($numHashes, $bands) at $parts partition(s)") {
      withShufflePartitions(parts) {
        check(corpus(100 * bands + parts, 80).toDF("doc_id", "text").repartition(parts),
          numHashes, bands)
      }
    }

  test("a string id column keeps its type and its pairs") {
    val df = corpus(7, 60).map { case (id, t) => (f"d$id%03d", t) }.toDF("doc_id", "text")
    check(df, 16, 4)
  }

  test("the plan evaluates minhash_bands and aggregates no signature mins") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Dedup.lshNearDupPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("minhash_bands"), plan)
    assert(!plan.contains("min("), plan)
  }
}
