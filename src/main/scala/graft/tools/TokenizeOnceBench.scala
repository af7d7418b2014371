package graft.tools

import org.apache.spark.sql.functions._

/** Measures the TokenizeOnceRewrite win on the hazard shape — one select
  * feeding the SAME tokenize call to both explode and a scalar consumer:
  * without the rule the projection copy re-runs the Viterbi lattice once
  * per exploded token; with it, once per document. Same protocol as
  * RuleBench (cached input, 5 reps, rule appended between phases).
  */
object TokenizeOnceBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    graft.Graft.register(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == graft.rules.TokenizeOnceRewrite)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    docs.count()

    def run(label: String): Unit = (1 to 5).foreach { i =>
      val t0 = System.nanoTime()
      val r = docs.select(
          explode(graft.functions.tokenize_ja_neologd(col("text"))).as("tok"),
          size(graft.functions.tokenize_ja_neologd(col("text"))).as("n"))
        .agg(count(lit(1)).as("c"), sum("n").as("s"))
        .collect()(0)
      println(f"[tokonce] $label run$i ${(System.nanoTime() - t0) / 1e6}%.1f ms (c=${r.getLong(0)} s=${r.getLong(1)})")
    }
    def runFilter(label: String): Unit = (1 to 5).foreach { i =>
      val t0 = System.nanoTime()
      val r = docs
        .filter(size(graft.functions.tokenize_ja_neologd(col("text"))) > 3)
        .select(size(graft.functions.tokenize_ja_neologd(col("text"))).as("n"))
        .agg(count(lit(1)).as("c"), sum("n").as("s"))
        .collect()(0)
      println(f"[tokonce-fp] $label run$i ${(System.nanoTime() - t0) / 1e6}%.1f ms (c=${r.getLong(0)} s=${r.getLong(1)})")
    }
    // Round-18 shape audit (VERDICT r17 stretch #7): does the SAME
    // tokenize call duplicate across (a) grouping expression + aggregate
    // input, (b) a join key + the projection above the join? Each shape
    // measured against its manually-staged twin — if the engine already
    // evaluates once (HashAggregateExec codegen does subexpression
    // elimination across its grouping/agg input projections), the gap is
    // ~0 and the rule stays un-extended (a measured negative result).
    def runAgg(label: String): Unit = (1 to 5).foreach { i =>
      val t0 = System.nanoTime()
      val r = docs.groupBy(
          size(graft.functions.tokenize_ja_neologd(col("text"))).as("n"))
        .agg(sum(size(graft.functions.tokenize_ja_neologd(col("text")))).as("s"))
        .agg(count(lit(1)), sum("s")).collect()(0)
      println(f"[tokonce-agg] $label run$i ${(System.nanoTime() - t0) / 1e6}%.1f ms (g=${r.getLong(0)} s=${r.getLong(1)})")
    }
    def runAggStaged(label: String): Unit = (1 to 5).foreach { i =>
      val t0 = System.nanoTime()
      val r = docs.select(size(graft.functions.tokenize_ja_neologd(col("text"))).as("n"))
        .groupBy(col("n")).agg(sum(col("n")).as("s"))
        .agg(count(lit(1)), sum("s")).collect()(0)
      println(f"[tokonce-agg] $label run$i ${(System.nanoTime() - t0) / 1e6}%.1f ms (g=${r.getLong(0)} s=${r.getLong(1)})")
    }
    def runJoin(label: String): Unit = (1 to 5).foreach { i =>
      val t0 = System.nanoTime()
      val dims = spark.range(1, 2000).select(col("id").cast("int").as("n"))
      val r = docs.join(broadcast(dims),
          size(graft.functions.tokenize_ja_neologd(col("text"))) === col("n"))
        .select(size(graft.functions.tokenize_ja_neologd(col("text"))).as("m"))
        .agg(count(lit(1)), sum("m")).collect()(0)
      println(f"[tokonce-join] $label run$i ${(System.nanoTime() - t0) / 1e6}%.1f ms (c=${r.getLong(0)} s=${r.getLong(1)})")
    }
    def runJoinStaged(label: String): Unit = (1 to 5).foreach { i =>
      val t0 = System.nanoTime()
      val dims = spark.range(1, 2000).select(col("id").cast("int").as("n"))
      val r = docs.select(size(graft.functions.tokenize_ja_neologd(col("text"))).as("m"))
        .join(broadcast(dims), col("m") === col("n"))
        .agg(count(lit(1)), sum("m")).collect()(0)
      println(f"[tokonce-join] $label run$i ${(System.nanoTime() - t0) / 1e6}%.1f ms (c=${r.getLong(0)} s=${r.getLong(1)})")
    }
    run("baseline ")
    runFilter("baseline ")
    runAgg("dup      ")
    runAggStaged("staged   ")
    runJoin("dup      ")
    runJoinStaged("staged   ")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.rules.TokenizeOnceRewrite
    run("rewritten")
    runFilter("rewritten")
    runAgg("rule-on  ")
    runJoin("rule-on  ")
    // one plan dump per audited shape (rule ON) — what actually fired
    val dims = spark.range(1, 2000).select(col("id").cast("int").as("n"))
    println("[tokonce-plan-agg]\n" + docs.groupBy(
        size(graft.functions.tokenize_ja_neologd(col("text"))).as("n"))
      .agg(sum(size(graft.functions.tokenize_ja_neologd(col("text")))).as("s"))
      .queryExecution.optimizedPlan.toString)
    println("[tokonce-plan-join]\n" + docs.join(broadcast(dims),
        size(graft.functions.tokenize_ja_neologd(col("text"))) === col("n"))
      .select(size(graft.functions.tokenize_ja_neologd(col("text"))).as("m"))
      .queryExecution.optimizedPlan.toString)
    spark.stop()
  }
}
