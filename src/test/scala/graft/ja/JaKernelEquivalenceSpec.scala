package graft.ja

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.Random

/** JaTokenizer against ReferenceTokenizer (the object-trie kernel it
  * replaced, kept in ReferenceLattice.scala): token-for-token identical
  * output in four configurations, over the golden and held-out sentences,
  * edge strings and generated mixed text; and one tokenizer shared by four
  * threads gives the single-thread result.
  */
class JaKernelEquivalenceSpec extends AnyFunSuite {

  private val userRows = Seq(
    "日本経済新聞,日本 経済 新聞,ニホン ケイザイ シンブン,カスタム名詞",
    "関西国際空港,関西 国際 空港,カンサイ コクサイ クウコウ,名詞-固有名詞-地域",
    "スマートフォン,スマート フォン,スマート フォン,名詞-一般",
    "東京スカイツリー,東京 スカイツリー,トウキョウ スカイツリー,名詞-固有名詞-一般",
    "𠮷野家,𠮷野家,ヨシノヤ,名詞-固有名詞-組織",
    "ｶﾞｷﾞ,ｶﾞｷﾞ,ガギ,カスタム名詞",
    "Ｃ＃言語,Ｃ＃ 言語,シーシャープ ゲンゴ,名詞-一般",
    "これ,これ,コレ,名詞-代名詞-一般",
    "ABC,ABC,エービーシー,名詞-一般")
  private lazy val userDict = UserDict.parse(userRows)
  private lazy val userSurfaces = userDict.map(_.surface)

  /** (name, kernel under test, reference) — fresh instances per call. */
  private def configs(): Seq[(String, JaTokenizer, ReferenceTokenizer)] = {
    val sw = JaDictionary.defaultStopWords ++ Set("東京", "テスト")
    val st = JaDictionary.defaultStopTags ++ Set("名詞-数")
    Seq(
      ("NORMAL", new JaTokenizer(), new ReferenceTokenizer()),
      ("SEARCH+stops+userdict",
        new JaTokenizer(JaMode.Search, sw, st, userDict),
        new ReferenceTokenizer(JaMode.Search, sw, st, userDict)),
      ("EXTENDED", new JaTokenizer(JaMode.Extended), new ReferenceTokenizer(JaMode.Extended)),
      ("NOSTOP+userdict",
        new JaTokenizer(JaMode.Normal, Set.empty, Set.empty, userDict),
        new ReferenceTokenizer(JaMode.Normal, Set.empty, Set.empty, userDict)))
  }

  private lazy val corpusSentences: Seq[String] = {
    val heldout = Seq(
      JaGolden.heldoutCorpus, JaGolden.heldoutCorpus2, JaGolden.heldoutCorpus3,
      JaGolden.heldoutCorpus4, JaGolden.heldoutCorpus5, JaGolden.heldoutCorpus6,
      JaGolden.heldoutCorpus7, JaGolden.heldoutCorpus8, JaGolden.heldoutCorpus9,
      JaGolden.heldoutCorpus10, JaGolden.heldoutCorpus11, JaGolden.heldoutCorpus12,
      JaGolden.heldoutCorpus13, JaGolden.heldoutCorpus14, JaGolden.heldoutCorpus15,
      JaGolden.heldoutCorpus16, JaGolden.heldoutCorpus17, JaGolden.heldoutCorpus18,
      JaGolden.heldoutCorpus19, JaGolden.heldoutCorpus20, JaGolden.heldoutCorpus21,
      JaGolden.heldoutCorpus22, JaGolden.heldoutCorpus23, JaGolden.heldoutCorpus24,
      JaGolden.heldoutCorpus25, JaGolden.heldoutCorpus26).flatMap(_.map(_._2))
    JaGolden.corpus.map(_.sentence) ++ heldout
  }

  private val edgeStrings: Seq[String] = Seq(
    "",
    // astral kanji (surrogate pairs), alone and next to BMP text
    "𠮷野家で𠮷田さんに会った", "𩸽を食べた", "𠀋𡈽𡌛", "𠮷",
    // lone surrogates: each is punctuation and splits its region
    "東京\uD842タワー", "\uDFB7東京", "日本\uD842\uD842語", "a\uDC00b", "\uD842",
    // half-width katakana with the voiced and semi-voiced marks
    "ｶﾞｷﾞｸﾞｹﾞｺﾞ", "ﾊﾟﾝﾀﾞがｻｰﾋﾞｽを見た", "ｳﾞｧｲｵﾘﾝ", "ﾎﾟｲﾝﾄ", "ﾞﾟ", "ｻｰﾊﾞｰ",
    // 〇 as a numeral inside kanji numbers
    "二〇二五年", "〇〇株式会社", "一〇〇円で買った", "〇",
    // widths, digits, mixed scripts
    "ＳＭＡＰとsmapとSmap", "１２３と123", "2025年10月18日", "Spark3で東京を処理",
    "ＡＢＣ株式会社", "ABC", "これはテストです。", "日本経済新聞を読む",
    // unpunctuated runs longer than the 4,096-char lattice chunk
    "日本語の文章" * 800,
    "あ" * 4095 + "𠮷" + "い" * 10,
    "漢" * 5000,
    "a" * 5000,
    "東京" + "x" * 4100 + "大阪",
    "ー" * 30)

  /** Generated text: dictionary and user-dictionary surfaces mixed with
    * random kana (incl. half-width), kanji (incl. astral), Latin, digits
    * and punctuation.
    */
  private lazy val generated: Seq[String] = {
    val rnd = new Random(20261018L)
    val all = JaDictionary.embeddedEntries.map(_.surface).distinct.toIndexedSeq
    val surfaces = IndexedSeq.fill(4000)(all(rnd.nextInt(all.size))) ++ userSurfaces
    def cps(lo: Int, hi: Int): Gen[String] =
      Gen.choose(lo, hi).map(cp => new String(Character.toChars(cp)))
    val piece: Gen[String] = Gen.frequency(
      8 -> Gen.oneOf(surfaces),
      3 -> cps(0x3041, 0x3096), // hiragana
      2 -> cps(0x30A1, 0x30FA), // katakana
      1 -> cps(0xFF66, 0xFF9F), // half-width katakana and ﾞ/ﾟ
      1 -> Gen.const("ー"),
      2 -> cps(0x4E00, 0x9FFF), // kanji
      1 -> cps(0x20000, 0x2A6DF), // astral kanji
      2 -> Gen.oneOf("a", "Z", "spark", "ＳＭＡＰ", "x", "7", "2025", "１２"),
      2 -> Gen.oneOf("。", "、", "！", "?", " ", "「", "」", "・", "…", ".", "\t"))
    val text: Gen[String] = Gen.listOf(piece).map(_.mkString)
    var seed = Seed(1018L)
    (1 to 2000).map { i =>
      val s = text.pureApply(Gen.Parameters.default.withSize(i % 60), seed)
      seed = seed.next
      s
    }
  }

  private def assertSame(inputs: Seq[String], what: String): Unit = {
    configs().foreach { case (name, tok, ref) =>
      val diffs = inputs.iterator.flatMap { s =>
        val got = tok.tokenize(s).toSeq
        val want = ref.tokenize(s).toSeq
        if (got == want) None
        else Some(s"[$name] ${s.take(80)}\n  kernel    ${got.take(40).mkString("|")}\n" +
          s"  reference ${want.take(40).mkString("|")}")
      }.take(5).toList
      assert(diffs.isEmpty, s"\n$what: outputs differ\n${diffs.mkString("\n")}")
    }
  }

  test("golden and held-out sentences: identical tokens in four configurations") {
    assert(corpusSentences.size > 1000)
    assertSame(corpusSentences, "corpus")
  }

  test("edge strings: identical tokens in four configurations") {
    assertSame(edgeStrings, "edge strings")
  }

  test("generated mixed text: identical tokens in four configurations") {
    assertSame(generated, "generated text")
  }

  test("one tokenizer shared by four threads gives the single-thread result") {
    val inputs = (corpusSentences ++ edgeStrings ++ generated).toIndexedSeq
    configs().foreach { case (name, shared, ref) => // shared: fresh, no memo entry yet
      val want = inputs.map(s => ref.tokenize(s).toSeq)
      val pool = Executors.newFixedThreadPool(4)
      try {
        val jobs = (0 until 4).map { t =>
          new Callable[Seq[Int]] {
            def call(): Seq[Int] = {
              val order = new Random(t).shuffle(inputs.indices.toList)
              order.filter(i => shared.tokenize(inputs(i)).toSeq != want(i))
            }
          }
        }
        val bad = pool.invokeAll(jobs.asJava).asScala.flatMap(_.get()).distinct
        assert(bad.isEmpty, s"[$name] ${bad.size} inputs differ under 4 threads, first: " +
          bad.headOption.map(inputs(_).take(80)))
      } finally {
        pool.shutdown()
        pool.awaitTermination(1, TimeUnit.MINUTES)
      }
    }
  }
}
