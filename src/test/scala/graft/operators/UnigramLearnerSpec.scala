package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The five unigram learners (TextAnalysis.unigramLmVocab, unigramLmEm,
  * unigramLmSoftEm, unigramLmTrain, unigramLmTrainSoft) against the
  * DataFrame formulation they replaced (UnigramReference), on generated
  * corpora at 1, 3 and 8 input partitions, and the exact soft-usage rollup.
  */
class UnigramLearnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private type Learner = (DataFrame, Int, Int) => DataFrame

  /** (name, operator, reference), called with (corpus, maxPieceLen, topV). */
  private val learners: Seq[(String, Learner, Learner)] = Seq(
    ("unigramLmVocab", TextAnalysis.unigramLmVocab(_, "text", _, _), UnigramReference.vocab),
    ("unigramLmEm", TextAnalysis.unigramLmEm(_, "text", _, _), UnigramReference.em),
    ("unigramLmSoftEm", TextAnalysis.unigramLmSoftEm(_, "text", _, _), UnigramReference.softEm),
    ("unigramLmTrain",
      (df, l, v) => TextAnalysis.unigramLmTrain(df, "text", l, v + 2, 2, 0.5),
      (df, l, v) => UnigramReference.train(df, l, v + 2, 2, 0.5, soft = false)),
    ("unigramLmTrainSoft",
      (df, l, v) => TextAnalysis.unigramLmTrainSoft(df, "text", l, v + 2, 2, 0.5),
      (df, l, v) => UnigramReference.train(df, l, v + 2, 2, 0.5, soft = true)))

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq

  private def check(docs: Seq[String], maxPieceLen: Int, topV: Int,
      partitions: Seq[Int] = Seq(1, 3, 8)): Unit = {
    val corpus = docs.toDF("text")
    learners.foreach { case (name, learn, reference) =>
      val want = reference(corpus, maxPieceLen, topV)
      val wantRows = sortedRows(want)
      partitions.foreach { n =>
        val got = learn(corpus.repartition(n), maxPieceLen, topV)
        val ctx = s"$name, $n partitions, maxPieceLen $maxPieceLen, topV $topV, docs $docs"
        if (wantRows.nonEmpty)
          assert(got.schema.map(f => (f.name, f.dataType)) ==
            want.schema.map(f => (f.name, f.dataType)), ctx)
        assert(sortedRows(got) == wantRows, ctx)
      }
    }
  }

  // U+E000 sorts after the astral U+1F600 in UTF-16 (0xE000 > 0xD83D) but
  // before it in UTF-8 bytes (0xEE < 0xF0): a count tie at the topV cut
  // between pieces holding the two is where the orders disagree
  private val bmpHigh = "\uE000"
  private val astral = "\uD83D\uDE00" // U+1F600

  private val wordGen: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("aaaa", "aaa", "ab", "abab", "ba", "low", "lower", "newest", "lowest"),
    3 -> Gen.listOfN(3, Gen.oneOf("a", "b", "c", bmpHigh, astral)).map(_.mkString),
    1 -> Gen.choose(6, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", astral)))
      .map(_.mkString),
    1 -> Gen.oneOf("", "x", "a" + bmpHigh, "a" + astral))
  private val corpusGen: Gen[(Int, Int, Seq[String])] = for {
    maxPieceLen <- Gen.choose(2, 5)
    topV <- Gen.choose(1, 8)
    docs <- Gen.listOfN(5, Gen.listOf(wordGen).map(_.mkString(" ")))
  } yield (maxPieceLen, topV, docs)

  test("property: all five learners equal the DataFrame reference at 1, 3 and 8 partitions") {
    var seed = Seed(220L)
    (1 to 4).foreach { i =>
      val (maxPieceLen, topV, docs) =
        corpusGen.pureApply(Gen.Parameters.default.withSize(4 + 2 * i), seed)
      seed = seed.next
      check(docs, maxPieceLen, topV)
    }
  }

  test("a count tie at the topV cut keeps the piece first in UTF-8 byte order") {
    val docs = Seq(s"a$bmpHigh a$astral")
    val vocab = TextAnalysis.unigramLmVocab(docs.toDF("text"), "text", 2, topV = 1)
      .where("NOT is_char").collect().map(_.getString(0))
    assert(vocab.toSeq == Seq("a" + bmpHigh))
    check(docs, 2, 1)
  }

  test("words longer than maxPieceLen seed only pieces up to maxPieceLen") {
    val docs = Seq("abcdefgh abcdefgh bcdefg", s"$astral$astral$astral$astral$astral")
    val pieces = TextAnalysis.unigramLmVocab(docs.toDF("text"), "text", 3, topV = 20)
      .collect().map(_.getString(0))
    assert(pieces.forall(p => p.codePointCount(0, p.length) <= 3), pieces.toSeq)
    check(docs, 3, 20)
  }

  test("empty and whitespace-only corpora give empty reports") {
    Seq(Seq(""), Seq("   ", " "), Seq.empty[String]).foreach { docs =>
      learners.foreach { case (name, learn, _) =>
        val out = learn(docs.toDF("text"), 4, 8)
        assert(out.collect().isEmpty, s"$name on $docs")
        assert(out.columns.head == "piece", s"$name on $docs")
      }
      check(docs, 4, 8)
    }
  }

  test("a vocabulary piece past the forward–backward bound is refused before any E-step") {
    val e = intercept[IllegalArgumentException] {
      // topV 40 seeds all 28 multi-codepoint substrings, "abcdefgh" among them
      TextAnalysis.unigramLmSoftEm(Seq("abcdefgh abcdefgh").toDF("text"), "text",
        maxPieceLen = 8, topV = 40)
    }
    assert(e.getMessage.contains("unigramLmSoftEm: longest piece spans 8"), e.getMessage)
  }

  test("soft-usage rollup: exact past 2^49 terms, a named error past Long.MaxValue") {
    val sc = spark.sparkContext
    val wc = 1L << 50
    // a (piece, (hard, wc, q)) row with wc = 2^50: Σ wc·q is exact
    val sums = TextAnalysis.unigramRollup("unigramLmSoftEm", sc.parallelize(Seq(
        "ab" -> (1L, wc, 4095L), "ab" -> (2L, wc, 4096L), "c" -> (wc, 1L, 3L)), 2))
      .collect().toMap
    assert(sums == Map("ab" -> (3L, wc * 8191L), "c" -> (wc, 3L)))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // 2·(2^50·2^12) = 2^63 overflows the sum; 2^50·2^13 the term
    Seq(Seq("ab" -> (0L, wc, 4096L), "ab" -> (0L, wc, 4096L)),
        Seq("ab" -> (0L, wc, 8192L))).foreach { terms =>
      val e = intercept[Exception] {
        TextAnalysis.unigramRollup("unigramLmSoftEm", sc.parallelize(terms, 2)).collect()
      }
      assert(messages(e).exists(_.contains("unigramLmSoftEm: a piece's usage sum overflowed BIGINT")),
        s"unexpected error: $e")
    }
  }
}
