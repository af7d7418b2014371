package graft.tools

import org.apache.spark.sql.functions._

/** Measures the TokenCountRewrite win: sum of size(split(text, ' ')) over
  * the sf0.1 documents, repeated, with the rule off vs on (same session,
  * rule appended between phases — the register-time path).
  */
object RuleBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    docs.count() // materialize the cache so both phases scan memory

    def run(label: String): Unit = (1 to 5).foreach { i =>
      val t0 = System.nanoTime()
      val s = docs.select(sum(size(split(col("text"), " "))).as("s"))
        .collect()(0).getLong(0)
      println(f"[rulebench] $label run$i ${(System.nanoTime() - t0) / 1e6}%.1f ms (sum=$s)")
    }
    run("baseline ")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.rules.TokenCountRewrite
    run("rewritten")
    spark.stop()
  }
}
