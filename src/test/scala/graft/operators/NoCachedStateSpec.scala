package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftTestBridge.numCachedEntries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** No operator leaves state in the session once its result is consumed:
  * each operator that reads its input more than once runs on a small
  * fixture from an empty cache, its result is collected, and the
  * CacheManager must be empty again. A persist that outlived the query
  * would also make a second timed run of the same query read a warm cache.
  */
class NoCachedStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "a b c d e f g h"),
    (2L, "a b c d e f g h"),
    (3L, "a b c d e f g x"),
    (4L, "q r s t u v w z"))
    .toDF("doc_id", "text")

  private def names = Seq(
    (1L, "jonathan smith"), (2L, "jonathon smith"), (3L, "jonathan smyth"))
    .toDF("id", "name")

  private def recs = Seq(
    (1L, "b1", "x", "p"), (2L, "b1", "x", "p"), (3L, "b1", "x", "q"))
    .toDF("id", "blk", "f1", "f2")

  private def vecs = Seq(
    (1L, Seq(1f, 0f)), (2L, Seq(1f, 0.01f)), (3L, Seq(-1f, 0f)), (4L, Seq(0f, 1f)))
    .toDF("vec_id", "embedding")
    .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))

  private val operators: Seq[(String, () => DataFrame)] = Seq(
    "ngramJaccardPairs" -> (() =>
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 6, threshold = 0.3)),
    "containmentPairs" -> (() =>
      Dedup.containmentPairs(docs, "doc_id", "text", k = 6, threshold = 0.3)),
    "setSimilarityJoin" -> (() =>
      Dedup.setSimilarityJoin(docs, "doc_id", "text", num = 1, den = 2)),
    "lshNearDupPairs" -> (() =>
      Dedup.lshNearDupPairs(docs, "doc_id", "text", k = 6, numHashes = 16, bands = 8,
        threshold = 0.3)),
    "fuzzyMatchBlocked" -> (() =>
      Dedup.fuzzyMatchBlocked(names, "id", "name", blockLen = 4, maxDist = 4)),
    "linkageScore" -> (() =>
      Dedup.linkageScore(recs, "id", "blk", Seq(("f1", 3, -2), ("f2", 2, -1)),
        minScore = Int.MinValue)),
    "semanticDedup" -> (() =>
      Dedup.semanticDedup(vecs, IvfIndex.fit(vecs, nlist = 2, iters = 2, maxSample = 100),
        threshold = 0.95)),
    "kCenterGreedy" -> (() => Similarity.kCenterGreedy(vecs, k = 3)))

  operators.foreach { case (name, run) =>
    test(s"$name leaves no cache entry after its result is collected") {
      spark.catalog.clearCache()
      assert(numCachedEntries(spark) == 0)
      val rows = run().collect()
      assert(rows.nonEmpty, s"$name: the fixture must produce rows")
      assert(numCachedEntries(spark) == 0, s"$name left a cache entry")
    }
  }
}
