package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.jobs

/** The Spark jobs an iterative operator starts while it builds its result,
  * and that collecting the result starts: the learners run one job per
  * step while building and return local relations, so the collect runs
  * none, sorted or not. The bounds may only shrink.
  */
class BuildJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = (1 to 40).map(i => Seq("low", "lower", "newest", "widest", s"w$i")
    .take(1 + i % 5).mkString(" ")).toDF("text")

  private def vecs = (1 to 12).map(i => (i.toLong, Array(i.toFloat, (i % 5).toFloat, 1f)))
    .toDF("vec_id", "embedding")

  private val built: Seq[(String, Int, () => DataFrame)] = Seq(
    ("unigramLmEm", 6, () => TextAnalysis.unigramLmEm(docs, "text")),
    ("unigramLmSoftEm", 5, () => TextAnalysis.unigramLmSoftEm(docs, "text")),
    ("kCenterGreedy(k = 4)", 5, () => Similarity.kCenterGreedy(vecs, k = 4)))

  built.foreach { case (name, bound, build) =>
    test(s"$name starts at most $bound jobs while building and none to collect") {
      val (df, buildJobs) = jobs(build())
      info(s"$buildJobs jobs while building")
      assert(buildJobs <= bound, s"$name: $buildJobs jobs while building")
      val (rows, collectJobs) = jobs(df.collect())
      assert(rows.nonEmpty, s"$name: the fixture must produce rows")
      assert(collectJobs == 0, s"$name: $collectJobs jobs to collect")
    }
  }

  test("ordering a learner's local report starts no job: the sort folds on the driver") {
    val (df, _) = jobs(TextAnalysis.unigramLmEm(docs, "text"))
    val (rows, sortJobs) = jobs(df.orderBy("piece").collect())
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).toSeq == rows.map(_.getString(0)).toSeq.sorted)
    assert(sortJobs == 0, s"$sortJobs jobs to sort and collect")
  }
}
