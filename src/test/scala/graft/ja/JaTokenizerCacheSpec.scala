package graft.ja

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** One tokenizer per configuration per JVM (`JaTokenizer.shared`, the
  * reference's once-per-executor init, A8): every task of a
  * `tokenize_ja_neologd` query looks up the same instance, and the key is
  * the raw constant arguments, so equal user-dictionary rows built
  * separately still hit. `UserDictHttpSpec` checks that a user-dictionary
  * URL is fetched once per JVM.
  */
class JaTokenizerCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("the same config over 8 partitions leaves one cache entry") {
    val lines = (1 to 64).map(i => s"東京都に住む。$i").toDF("text").repartition(8)
    assert(lines.rdd.getNumPartitions == 8)
    // stop words no other spec uses, so the config is new to this JVM
    val stop = Seq("jatokenizercachespec")
    val before = JaTokenizer.sharedCount
    val out = lines.select(graft.functions.tokenize_ja_neologd(col("text"), "SEARCH", stop, null))
      .collect()
    assert(out.length == 64 && out.forall(_.getSeq[String](0).nonEmpty))
    assert(JaTokenizer.sharedCount == before + 1)
    lines.select(graft.functions.tokenize_ja_neologd(col("text"), "SEARCH", stop, null)).collect()
    assert(JaTokenizer.sharedCount == before + 1, "a second query reuses the entry")
  }

  test("user-dictionary rows passed as two separately built arrays give the same instance") {
    def rows = Array("クロモジ開発室,クロモジ 開発室,クロモジ カイハツシツ,カスタム名詞").toSeq
    val before = JaTokenizer.sharedCount
    val a = JaTokenizer.shared("NORMAL", null, null, rows, null)
    val b = JaTokenizer.shared("NORMAL", null, null, rows, null)
    assert(a eq b)
    assert(JaTokenizer.sharedCount == before + 1)
    assert(a.tokenize("クロモジ開発室で働く").toSeq.take(2) == Seq("クロモジ", "開発室"))
  }
}
