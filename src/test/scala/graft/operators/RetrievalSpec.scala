package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** BM25 against an independent plain-Scala computation on a corpus small
  * enough to hand-check: the Spark pipeline (tf / df / length joins, the
  * term-sorted fold, top-k tie-breaks) must reproduce the formula exactly.
  */
class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs = {
    import spark.implicits._
    Seq(
      1L -> "a b a c",
      2L -> "a d d d",
      3L -> "e f g h i j",
      4L -> "x y z").toDF("doc_id", "text")
  }

  /** Independent reference implementation (plain Scala, same association
    * order as the scaladoc formula).
    */
  private def refScores(corpus: Seq[(Long, String)], terms: Seq[String],
      k1: Double, b: Double, logIdf: Boolean): Map[Long, (Int, Double)] = {
    val toks = corpus.map { case (id, t0) => id -> t0.split(" ", -1).toSeq }.toMap
    val nDocs = corpus.size
    val avgdl = toks.values.map(_.size).sum.toDouble / nDocs
    val dfT = terms.map(t0 => t0 -> toks.values.count(_.contains(t0))).toMap
    corpus.flatMap { case (id, _) =>
      val matched = terms.filter(t0 => toks(id).contains(t0)).sorted
      if (matched.isEmpty) None
      else {
        val score = matched.foldLeft(0.0) { (acc, t0) =>
          val tf = toks(id).count(_ == t0).toDouble
          val df = dfT(t0)
          val idfRaw = (nDocs.toDouble - df + 0.5) / (df + 0.5)
          val idf = if (logIdf) math.log(1.0 + idfRaw) else idfRaw
          acc + idf * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * toks(id).size / avgdl)))
        }
        Some(id -> (matched.size, score))
      }
    }.toMap
  }

  private val corpus = Seq(
    1L -> "a b a c", 2L -> "a d d d", 3L -> "e f g h i j", 4L -> "x y z")

  test("rational-idf scores match the independent computation bit-for-bit") {
    val terms = Seq("a", "e")
    val got = Retrieval.bm25TopK(docs, "doc_id", "text", terms,
        k1 = 1.2, b = 0.75, topK = 10, logIdf = false)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
    val exp = refScores(corpus, terms, 1.2, 0.75, logIdf = false)
    assert(got.map(_._1).toSet == exp.keySet)        // doc 4 (no match) absent
    got.foreach { case (id, nTerms, score, _) =>
      assert((nTerms, score) == exp(id), s"doc $id")
    }
    // ranking: descending score, doc_id tie-break, contiguous rn from 1
    assert(got.map(_._4).toSeq == (1 to got.length))
    assert(got.sortBy(r => (-r._3, r._1)).toSeq == got.toSeq)
  }

  test("classic ln idf mode matches the reference formula") {
    val terms = Seq("a", "e")
    val got = Retrieval.bm25TopK(docs, "doc_id", "text", terms, topK = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val exp = refScores(corpus, terms, 1.2, 0.75, logIdf = true)
    exp.foreach { case (id, (_, s)) =>
      assert(math.abs(got(id) - s) < 1e-12, s"doc $id")
    }
  }

  test("topK truncates and a rarer term outranks a common one at equal tf") {
    val got = Retrieval.bm25TopK(docs, "doc_id", "text", Seq("a", "e"),
      topK = 1, logIdf = false).collect()
    assert(got.length == 1)
    // d3 holds the only 'e' (df=1) once in 6 tokens; d1 has 'a' (df=2)
    // twice in 4 — rarity + the tf/length saturation decide, and the
    // reference computation agrees with the engine on who wins
    val exp = refScores(corpus, Seq("a", "e"), 1.2, 0.75, logIdf = false)
    val best = exp.toSeq.sortBy { case (id, (_, s)) => (-s, id) }.head._1
    assert(got.head.getLong(0) == best)
  }

  test("empty query is rejected") {
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(docs, "doc_id", "text", Nil)
    }
  }

  test("hybrid RRF fuses lexical and vector ranks exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // doc 3 holds the rare term (lex rank 1); doc 2's vector matches the
    // query vector (id 1) best. RRF must fuse both rankings.
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val out = Retrieval.hybridRrf(docs, emb, "doc_id", "text",
        Seq("a", "e"), queryVecId = 1L, kLex = 10, kFinal = 10, rrfK = 60)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(4), r.getInt(5))).toMap
    // candidates = lexical hits with embeddings = docs 1, 2, 3
    assert(out.keySet == Set(1L, 2L, 3L))
    val exp = refScores(corpus, Seq("a", "e"), 1.2, 0.75, logIdf = false)
    val lexRank = exp.toSeq.sortBy { case (id, (_, s)) => (-s, id) }
      .map(_._1).zipWithIndex.toMap.map { case (id, i) => id -> (i + 1) }
    out.foreach { case (id, (lexRn, vecRn, rrf, _)) =>
      assert(lexRn == lexRank(id), s"doc $id lex rank")
      assert(rrf == 1.0 / (60 + lexRn) + 1.0 / (60 + vecRn), s"doc $id rrf")
    }
    // doc 1 IS the query vector (vec rank 1); doc 2 is the closest other
    assert(out(1L)._2 == 1)
    assert(out(2L)._2 == 2)
  }

  test("PRF expansion mines feedback-doc terms: seed excluded, minLen filtered, (w, term) tie-break") {
    import spark.implicits._
    val corpus2 = Seq(
      1L -> "query alpha alpha bravo xx",
      2L -> "query alpha charlie yy",
      3L -> "other delta delta delta zz").toDF("doc_id", "text")
    // seed "query" hits docs 1,2 (the feedback set at kFb=2); their
    // terms >= 4 chars excluding the seed: alpha(3) bravo(1) charlie(1)
    val exp = Retrieval.prfExpandTerms(corpus2, "doc_id", "text",
        Seq("query"), kFb = 2, mExp = 2, minLen = 4)
      .collect().map(_.getString(0)).toSeq
    // top-2 by (w desc, term asc): alpha, then bravo beats charlie on tie
    assert(exp == Seq("alpha", "bravo"))
  }

  test("PRF retrieval: expanded query reaches docs the seed missed") {
    import spark.implicits._
    val corpus2 = Seq(
      1L -> "query alpha alpha",
      2L -> "query alpha",
      3L -> "alpha alpha alpha",  // no seed term — only reachable expanded
      4L -> "unrelated words").toDF("doc_id", "text")
    val seedOnly = Retrieval.bm25TopK(corpus2, "doc_id", "text",
        Seq("query"), topK = 10, logIdf = false)
      .collect().map(_.getLong(0)).toSet
    assert(seedOnly == Set(1L, 2L))
    val out = Retrieval.bm25Prf(corpus2, "doc_id", "text", Seq("query"),
        kFb = 2, mExp = 1, minLen = 4, topK = 10)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 3L)) // alpha expanded in; doc 4 still out
  }

  test("evalRanking: P@k, R@k, MRR@k at every cutoff, zero when nothing relevant retrieved") {
    import spark.implicits._
    // ranking 1..5; relevant docs are ranked 2 and 4, plus doc 99 unranked
    val ranked = Seq((10L, 1), (20L, 2), (30L, 3), (40L, 4), (50L, 5))
      .toDF("doc_id", "rn")
    val labels = Seq(10L -> false, 20L -> true, 30L -> false, 40L -> true,
        50L -> false, 99L -> true)
      .toDF("doc_id", "rel")
    val out = Retrieval.evalRanking(ranked, labels, Seq(1, 3, 5))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(out(1) == ((0L, 3L, 0.0, 0.0, 0.0)))        // nothing in top-1
    assert(out(3) == ((1L, 3L, 1.0 / 3, 1.0 / 3, 0.5))) // rank-2 hit
    assert(out(5) == ((2L, 3L, 2.0 / 5, 2.0 / 3, 0.5)))
  }

  test("mmrDiversify: greedy λ·rel − (1−λ)·maxsim replayed by hand") {
    import spark.implicits._
    // Three docs score on term 'a' (ranks by tf: 1 > 2 > 3); docs 1 and 2
    // share an identical embedding direction (sim maxed), doc 3 is
    // orthogonal. With λ = 1/2 and a relUnit small against the code dots,
    // greedy MMR must pick 1, then 3 (diversity beats rank 2), then 2.
    val d = Seq(
      1L -> "a a a a",
      2L -> "a a a b",
      3L -> "a b b b").toDF("doc_id", "text")
    val e = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(1f, 0f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Retrieval.mmrDiversify(d, e, "doc_id", "text", Seq("a"),
        kLex = 3, kSel = 3, lamNum = 1L, lamDen = 2L, relUnit = 10L)
      .collect().map(r => r.getInt(2) -> r.getLong(0)).toMap
    // hand replay: rel = (4-rn)·10 ∈ {30,20,10}; codes dot: 1·2 = 127² =
    // 16129, 1·3 = 2·3 = 0. pick1 = doc1 (rel 30). step2: doc2 mmr =
    // 1·20 − 1·16129 < doc3 mmr = 1·10 − 0 → doc3. step3: doc2.
    assert(out == Map(1 -> 1L, 2 -> 3L, 3 -> 2L), out)
  }

  test("mmrDiversify: candidates with mixed embedding dimensions are rejected") {
    import spark.implicits._
    // unchecked, the driver-side dot truncates to the shorter code vector
    val d = Seq(1L -> "a a b", 2L -> "a b b").toDF("doc_id", "text")
    val e = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Retrieval.mmrDiversify(d, e, "doc_id", "text", Seq("a"), kLex = 2, kSel = 2)
    }
    assert(ex.getMessage.contains("mmrDiversify") &&
      ex.getMessage.contains("embedding"), ex.getMessage)
  }

  test("mmrDiversify: λ→1 degenerates to the lexical ranking") {
    import spark.implicits._
    val d = Seq(1L -> "a a a", 2L -> "a a b", 3L -> "a b b").toDF("doc_id", "text")
    val e = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), (3L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    // lamNum/lamDen = 999/1000 with a huge relUnit: relevance dominates
    val out = Retrieval.mmrDiversify(d, e, "doc_id", "text", Seq("a"),
        kLex = 3, kSel = 3, lamNum = 999L, lamDen = 1000L, relUnit = 1000000L)
      .collect().map(r => r.getInt(2) -> r.getInt(1)).toMap
    assert(out == Map(1 -> 1, 2 -> 2, 3 -> 3), out)
  }

  test("cohenKappa: hand-computed rationals; majority-class predictor gets kappa 0") {
    import spark.implicits._
    // n=4, agree=3; marginals pred {0:3, 1:1}, truth {0:2, 1:2}
    // pe_num = 3*2 + 1*2 = 8; num = 4*3-8 = 4; den = 16-8 = 8; kappa 0.5
    val pairs = Seq((0, 0), (0, 0), (0, 1), (1, 1)).toDF("p", "t")
    val r = Retrieval.cohenKappa(pairs, "p", "t").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 3L, 8L)))
    assert((r.getLong(3), r.getLong(4)) == ((4L, 8L)) && r.getDouble(5) == 0.5)
    // always-predict-0 over a 50/50 truth: accuracy 0.5 but kappa exactly 0
    val maj = Seq((0, 0), (0, 0), (0, 1), (0, 1)).toDF("p", "t")
    val m = Retrieval.cohenKappa(maj, "p", "t").collect()(0)
    assert(m.getLong(3) == 0L && m.getDouble(5) == 0.0)
  }
}
