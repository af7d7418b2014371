package perfbench

import scala.collection.mutable

import org.apache.spark.unsafe.types.UTF8String

import graft.ja.{CharClasses, JaDictionary, JaGolden}

/** Seeded Japanese corpus for the `ja_tokenize` workload. It draws only
  * from the engine's committed resources: `golden_corpus.tsv`, the
  * `heldout_corpus*.tsv` files and the `lexemes/` lists. The same seed and
  * sizes give the same corpus.
  *
  *   - `docs`: long multi-sentence documents, each a run of golden
  *     sentences. Every sentence ends in punctuation, and the tokenizer
  *     never lets a token cross punctuation, so a document's tokens are the
  *     concatenation of its sentences' reviewed NORMAL tokens. `docSids`
  *     keeps the sentence ids so the expected result can be rebuilt.
  *   - `lines`: many short lines. The first `goldenLines` rows are golden
  *     sentences with reviewed SEARCH tokens; the rest are phrases of lexemes
  *     joined by particles, half of them followed by a held-out sentence.
  *   - `userDict`: inline user-dictionary rows (noun+noun compounds that the
  *     phrases use and that no golden line contains).
  */
final case class JaCorpus(
    seed: Long,
    docs: Array[String],
    docSids: Array[Array[Int]],
    lines: Array[String],
    goldenLines: Int,
    userDict: Seq[String]) {

  /** Rows, characters, the spread of lengths and the share of distinct rows. */
  def manifest: Seq[(String, Any)] = {
    def stats(xs: Array[String]): Map[String, Any] = {
      val lens = xs.map(_.length).sorted
      def q(p: Double) = lens(math.min(lens.length - 1, (p * lens.length).toInt))
      Map("rows" -> xs.length, "chars" -> lens.map(_.toLong).sum,
        "len_min" -> lens.head, "len_p25" -> q(0.25), "len_p50" -> q(0.5),
        "len_p75" -> q(0.75), "len_max" -> lens.last,
        "distinct_ratio" -> xs.distinct.length.toDouble / xs.length)
    }
    Seq("seed" -> seed, "docs" -> stats(docs), "lines" -> stats(lines),
      "golden_lines" -> goldenLines, "user_dict_rows" -> userDict.length)
  }
}

object JaCorpus {

  private def resourceLines(name: String): Option[Seq[String]] =
    Option(getClass.getResourceAsStream(s"/graft/ja/$name")).map { in =>
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toVector
      finally in.close()
    }

  private def firstField(l: String): String = l.split("\t", -1)(0).trim

  private def isPunct(cp: Int): Boolean = CharClasses.classOfCp(cp) == CharClasses.Punct

  private def endPunct(s: String): String =
    if (s.nonEmpty && isPunct(s.codePointBefore(s.length))) s else s + "。"

  lazy val heldout: Vector[String] =
    (1 to 64).flatMap { i =>
      resourceLines(if (i == 1) "heldout_corpus.tsv" else s"heldout_corpus$i.tsv")
        .getOrElse(Nil)
    }.map(firstField).filter(s => s.nonEmpty && !s.contains("'")).distinct.toVector

  private lazy val nouns: Vector[String] =
    (resourceLines("lexemes/nouns.tsv").get ++ resourceLines("lexemes/katakana.txt").get ++
      resourceLines("lexemes/entities.tsv").get)
      .map(firstField).filter(s => s.length >= 2 && !s.exists(c => isPunct(c.toInt))).distinct.toVector

  private lazy val particles: Vector[String] =
    resourceLines("lexemes/misc.tsv").get.map(_.split("\t", -1))
      .collect { case f if f.length >= 2 && f(1).startsWith("助詞") => f(0).trim }
      .filter(_.nonEmpty).distinct.toVector

  /** Golden sentences with a reviewed SEARCH sequence. */
  lazy val searchGolden: Vector[JaGolden.Golden] =
    JaGolden.corpus.filter(_.search.isDefined).toVector

  /** Explicit stop lists for the short-line query: the defaults, passed as
    * literals, so the reviewed SEARCH tokens still apply to golden lines.
    */
  lazy val stopWords: Seq[String] = JaDictionary.defaultStopWords.toSeq.sorted
  lazy val stopTags: Seq[String] = JaDictionary.defaultStopTags.toSeq.sorted

  def generate(seed: Long, docCount: Int, docChars: Int, lineCount: Int): JaCorpus = {
    val rnd = new scala.util.Random(seed)
    val golden = JaGolden.corpus.toVector
    val bySid = golden.map(g => g.sid -> g).toMap

    val docSids = Array.fill(docCount) {
      val target = docChars / 2 + rnd.nextInt(docChars + 1)
      val sids = mutable.ArrayBuffer.empty[Int]
      var len = 0
      while (len < target) {
        val g = golden(rnd.nextInt(golden.length))
        sids += g.sid
        len += endPunct(g.sentence).length
      }
      sids.toArray
    }
    val docs = docSids.map(_.map(sid => endPunct(bySid(sid).sentence)).mkString)

    val goldenLineSet = {
      val shuffled = rnd.shuffle(searchGolden)
      shuffled.take(math.min(shuffled.length, math.max(1, lineCount / 50)))
    }
    val goldenText = goldenLineSet.map(_.sentence)
    val userDictPairs = Iterator.continually((nouns(rnd.nextInt(nouns.length)), nouns(rnd.nextInt(nouns.length))))
      .filter { case (a, b) => a != b && !goldenText.exists(_.contains(a + b)) }
      .take(32).toVector
    val userDict = userDictPairs.map { case (a, b) => s"${a + b},$a $b,$a $b,カスタム名詞" }

    def phrase(): String = {
      val k = 2 + rnd.nextInt(3)
      (0 until k).map { i =>
        val w =
          if (i == 0 && rnd.nextInt(4) == 0) { val (a, b) = userDictPairs(rnd.nextInt(userDictPairs.length)); a + b }
          else nouns(rnd.nextInt(nouns.length))
        if (i < k - 1) w + particles(rnd.nextInt(particles.length)) else w
      }.mkString
    }
    val rest = Array.fill(lineCount - goldenLineSet.length) {
      if (rnd.nextBoolean()) phrase()
      else phrase() + "、" + heldout(rnd.nextInt(heldout.length))
    }
    JaCorpus(seed, docs, docSids, goldenText.toArray ++ rest, goldenLineSet.length, userDict)
  }

  /** Reviewed SEARCH tokens of the golden lines, by line index. */
  def goldenSearch(c: JaCorpus): Array[Seq[String]] = {
    val byText = searchGolden.map(g => g.sentence -> g.search.get).toMap
    c.lines.take(c.goldenLines).map(byText)
  }

  /** Expected top-k (token, count) of the long-document query, from the
    * reviewed NORMAL tokens, ordered by count desc then token asc, with
    * Spark's string order (UTF-8 bytes).
    */
  def expectedTopK(c: JaCorpus, k: Int): Seq[(String, Long)] = {
    val bySid = JaGolden.corpus.map(g => g.sid -> g.expected).toMap
    val counts = mutable.HashMap.empty[String, Long]
    c.docSids.foreach(_.foreach(sid => bySid(sid).foreach(t => counts(t) = counts.getOrElse(t, 0L) + 1)))
    counts.toSeq.sortWith { case ((t1, n1), (t2, n2)) =>
      n1 > n2 || (n1 == n2 && UTF8String.fromString(t1).compareTo(UTF8String.fromString(t2)) < 0)
    }.take(k)
  }
}
