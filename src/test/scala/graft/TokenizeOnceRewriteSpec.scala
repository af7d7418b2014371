package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The tokenize-below-explode optimizer rule (TokenizeOnceRewrite): when
  * one select feeds the SAME tokenize_ja_neologd call to both an explode
  * generator and a scalar consumer, the call must be evaluated once per
  * input row (materialized below Generate) instead of once per exploded
  * row. Plan rewrite proof, result identity through both API shapes, and
  * non-firing guards. In rounds 16–17 a hand A/B timer, since retired,
  * measured 857 → 166 ms on the cached sf0.01 documents hazard shape (min
  * of 5; 582 → 149 ms after the r17 unrequiredChildIndex fix).
  * Round 17 added the Filter/Project second shape — the same call in the
  * predicate and the projection, which codegen cannot CSE across
  * operators: measured 198 → 148 ms min-of-5 on the same corpus.
  */
class TokenizeOnceRewriteSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    Graft.register(s)
    s
  }

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def hazard = docs.select(
    explode(graft.functions.tokenize_ja_neologd(col("text"))).as("tok"),
    size(graft.functions.tokenize_ja_neologd(col("text"))).as("n"))

  test("rule fires on the hazard shape: one tokenize call below Generate, explode reads the attribute") {
    val optimized = hazard.queryExecution.optimizedPlan.toString
    val calls = "tokenize_ja_neologd".r.findAllIn(optimized).length
    assert(calls == 1, s"expected exactly one tokenize call after rewrite, got $calls:\n$optimized")
    assert(optimized.contains("_graft_toks"), s"materialized alias missing:\n$optimized")
  }

  test("results identical to the manually-staged two-step form, SQL text included") {
    val viaRule = hazard
      .groupBy("tok").agg(count(lit(1)).as("c"), sum("n").as("s"))
      .orderBy("tok").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val staged = docs.select(col("doc_id"), graft.functions.tokenize_ja_neologd(col("text")).as("toks"))
      .select(explode(col("toks")).as("tok"), size(col("toks")).as("n"))
      .groupBy("tok").agg(count(lit(1)).as("c"), sum("n").as("s"))
      .orderBy("tok").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaRule == staged && viaRule.nonEmpty)
    docs.createOrReplaceTempView("tor_docs")
    val viaSql = spark.sql(
      """SELECT tok, COUNT(1) AS c, SUM(n) AS s FROM (
        |  SELECT explode(tokenize_ja_neologd(text)) AS tok,
        |         size(tokenize_ja_neologd(text)) AS n FROM tor_docs)
        |GROUP BY tok ORDER BY tok""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaSql == staged)
  }

  test("rule leaves the plain explode-only and scalar-only shapes alone") {
    val explodeOnly = docs
      .select(explode(graft.functions.tokenize_ja_neologd(col("text"))).as("tok"))
      .queryExecution.optimizedPlan.toString
    assert(!explodeOnly.contains("_graft_toks"), explodeOnly)
    val scalarOnly = docs
      .select(size(graft.functions.tokenize_ja_neologd(col("text"))).as("n"))
      .queryExecution.optimizedPlan.toString
    assert(!scalarOnly.contains("_graft_toks"), scalarOnly)
  }

  private def filterHazard = docs
    .filter(size(graft.functions.tokenize_ja_neologd(col("text"))) > 3)
    .select(col("doc_id"),
      size(graft.functions.tokenize_ja_neologd(col("text"))).as("n"))

  test("filter/project shape: one tokenize call below Filter, predicate reads the attribute") {
    val optimized = filterHazard.queryExecution.optimizedPlan.toString
    val calls = "tokenize_ja_neologd".r.findAllIn(optimized).length
    assert(calls == 1, s"expected exactly one tokenize call after rewrite, got $calls:\n$optimized")
    assert(optimized.contains("_graft_toks"), s"materialized alias missing:\n$optimized")
  }

  test("filter/project shape: results identical to the staged two-step form, SQL included") {
    val viaRule = filterHazard.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    val staged = docs
      .select(col("doc_id"), graft.functions.tokenize_ja_neologd(col("text")).as("toks"))
      .filter(size(col("toks")) > 3)
      .select(col("doc_id"), size(col("toks")).as("n"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(viaRule == staged && viaRule.nonEmpty)
    docs.createOrReplaceTempView("tor_docs2")
    val viaSql = spark.sql(
      """SELECT doc_id, size(tokenize_ja_neologd(text)) AS n FROM tor_docs2
        |WHERE size(tokenize_ja_neologd(text)) > 3 ORDER BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(viaSql == staged)
  }

  test("filter-only shape is left alone") {
    val filterOnly = docs
      .filter(size(graft.functions.tokenize_ja_neologd(col("text"))) > 3)
      .select(col("doc_id"))
      .queryExecution.optimizedPlan.toString
    assert(!filterOnly.contains("_graft_toks"), filterOnly)
  }

  test("filter/project shape: short-circuit-guarded tokenize does NOT rewrite (And-right / If / CaseWhen)") {
    // ADVICE r17: with `cheap && size(tokenize) > n` the original plan
    // evaluates tokenize only when cheap passes — hoisting it into an
    // unconditional Project would ADD evaluations on selective cheap_preds.
    val andRight = docs
      .filter(col("lang") === "ja" && size(graft.functions.tokenize_ja_neologd(col("text"))) > 3)
      .select(col("doc_id"), size(graft.functions.tokenize_ja_neologd(col("text"))).as("n"))
      .queryExecution.optimizedPlan.toString
    assert(!andRight.contains("_graft_toks"), s"And-right tokenize must not hoist:\n$andRight")
    val underIf = docs
      .filter(when(col("lang") === "ja",
        size(graft.functions.tokenize_ja_neologd(col("text"))) > 3).otherwise(lit(true)))
      .select(col("doc_id"), size(graft.functions.tokenize_ja_neologd(col("text"))).as("n"))
      .queryExecution.optimizedPlan.toString
    assert(!underIf.contains("_graft_toks"), s"CaseWhen-branch tokenize must not hoist:\n$underIf")
  }

  test("filter/project shape: And-LEFT tokenize still rewrites (always evaluated)") {
    val andLeft = docs
      .filter(size(graft.functions.tokenize_ja_neologd(col("text"))) > 3 && col("lang").isNotNull)
      .select(col("doc_id"), size(graft.functions.tokenize_ja_neologd(col("text"))).as("n"))
    val optimized = andLeft.queryExecution.optimizedPlan.toString
    assert(optimized.contains("_graft_toks"), s"And-left tokenize is unconditional, must hoist:\n$optimized")
    val viaRule = andLeft.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val staged = docs
      .select(col("doc_id"), col("lang"), graft.functions.tokenize_ja_neologd(col("text")).as("toks"))
      .filter(size(col("toks")) > 3 && col("lang").isNotNull)
      .select(col("doc_id"), size(col("toks")).as("n"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(viaRule == staged && viaRule.nonEmpty)
  }

  test("join/project shape: one tokenize call below the join, key and projection read the attribute") {
    val dims = spark.range(1, 2000).select(col("id").cast("int").as("n"))
    val joined = docs.join(broadcast(dims),
        size(graft.functions.tokenize_ja_neologd(col("text"))) === col("n"))
      .select(col("doc_id"), size(graft.functions.tokenize_ja_neologd(col("text"))).as("m"))
    val optimized = joined.queryExecution.optimizedPlan.toString
    val calls = "tokenize_ja_neologd".r.findAllIn(optimized).length
    assert(calls == 1, s"expected exactly one tokenize call after rewrite, got $calls:\n$optimized")
    assert(optimized.contains("_graft_toks"), s"materialized alias missing:\n$optimized")
    // result identity vs the staged two-step form
    val viaRule = joined.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val staged = docs
      .select(col("doc_id"), graft.functions.tokenize_ja_neologd(col("text")).as("toks"))
      .join(broadcast(dims), size(col("toks")) === col("n"))
      .select(col("doc_id"), size(col("toks")).as("m"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(viaRule == staged && viaRule.nonEmpty)
  }

  test("join/project shape: outer-join null padding agrees (tokenize is null-to-null)") {
    val dims = spark.range(1, 3).select(col("id").cast("int").as("n")) // matches almost nothing
    val joined = docs.join(broadcast(dims),
        size(graft.functions.tokenize_ja_neologd(col("text"))) === col("n"), "right_outer")
      .select(col("n"), size(graft.functions.tokenize_ja_neologd(col("text"))).as("m"))
    val viaRule = joined.orderBy("n").collect().map(r => (r.getInt(0), r.isNullAt(1))).toSeq
    val staged = docs
      .select(graft.functions.tokenize_ja_neologd(col("text")).as("toks"))
      .join(broadcast(dims), size(col("toks")) === col("n"), "right_outer")
      .select(col("n"), size(col("toks")).as("m"))
      .orderBy("n").collect().map(r => (r.getInt(0), r.isNullAt(1))).toSeq
    assert(viaRule == staged && viaRule.nonEmpty)
  }

  test("join-only and projection-on-the-other-side shapes are left alone") {
    val dims = spark.range(1, 2000).select(col("id").cast("int").as("n"))
    val joinOnly = docs.join(broadcast(dims),
        size(graft.functions.tokenize_ja_neologd(col("text"))) === col("n"))
      .select(col("doc_id"), col("n"))
      .queryExecution.optimizedPlan.toString
    assert(!joinOnly.contains("_graft_toks"), joinOnly)
  }

  test("rule does not conflate tokenize calls over different columns") {
    val df = docs.select(col("text"), col("lang"))
      .select(
        explode(graft.functions.tokenize_ja_neologd(col("text"))).as("tok"),
        size(graft.functions.tokenize_ja_neologd(col("lang"))).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("_graft_toks"), s"must not rewrite distinct calls:\n$optimized")
    assert(df.count() > 0)
  }
}
