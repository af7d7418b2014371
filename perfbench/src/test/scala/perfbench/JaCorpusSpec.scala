package perfbench

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.ja.{JaGolden, JaTokenizer}

class JaCorpusSpec extends AnyFunSuite {

  private def gen(seed: Long) = JaCorpus.generate(seed, docCount = 40, docChars = 600, lineCount = 800)

  test("the same seed gives the same corpus, manifest included") {
    val a = gen(7)
    val b = gen(7)
    assert(a.docs.toSeq == b.docs.toSeq)
    assert(a.docSids.map(_.toSeq).toSeq == b.docSids.map(_.toSeq).toSeq)
    assert(a.lines.toSeq == b.lines.toSeq)
    assert(a.userDict == b.userDict)
    assert(a.manifest == b.manifest)
  }

  test("another seed gives another corpus") {
    val a = gen(7)
    val b = gen(8)
    assert(a.docs.toSeq != b.docs.toSeq)
    assert(a.lines.toSeq != b.lines.toSeq)
  }

  test("the manifest records rows, characters, line lengths and the distinct ratio") {
    val c = gen(3)
    val m = c.manifest.toMap
    val lines = m("lines").asInstanceOf[Map[String, Any]]
    assert(lines("rows") == 800)
    assert(lines("chars") == c.lines.map(_.length.toLong).sum)
    Seq("len_min", "len_p25", "len_p50", "len_p75", "len_max").foreach(k => assert(lines.contains(k)))
    val ratio = lines("distinct_ratio").asInstanceOf[Double]
    assert(ratio > 0.9 && ratio <= 1.0, s"distinct ratio $ratio")
  }

  test("a document's tokens are its golden sentences' reviewed tokens, in order") {
    val c = gen(11)
    val bySid = JaGolden.corpus.map(g => g.sid -> g.expected).toMap
    val tok = new JaTokenizer()
    c.docs.zip(c.docSids).take(10).foreach { case (doc, sids) =>
      assert(tok.tokenize(doc).toSeq == sids.toSeq.flatMap(bySid))
    }
  }

  test("golden lines come first and carry their reviewed SEARCH tokens") {
    val c = gen(5)
    val expected = JaCorpus.goldenSearch(c)
    assert(c.goldenLines == expected.length && c.goldenLines > 0)
    assert(c.userDict.forall(row => !c.lines.take(c.goldenLines).exists(_.contains(row.split(",")(0)))))
  }

  test("the expected top-k is ordered by count, then token") {
    val top = JaCorpus.expectedTopK(gen(2), 20)
    assert(top.length == 20)
    top.sliding(2).foreach { case Seq((t1, n1), (t2, n2)) =>
      assert(n1 > n2 || (n1 == n2 &&
        UTF8String.fromString(t1).compareTo(UTF8String.fromString(t2)) < 0))
    }
  }
}
