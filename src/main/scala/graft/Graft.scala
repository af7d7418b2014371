package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.expr.TokenizeJaNeologd

object GraftVersion {
  /** Returned by the zero-arg tokenize_ja_neologd() call (reference A11). */
  val value: String = "0.1.0"
}

/** Engine entry points: SQL function registration.
  *
  * Two paths, mirroring how the reference is installed into Hive
  * (`create temporary function`, README.md:22–25):
  *   - `Graft.register(spark)` for an existing session;
  *   - `--conf spark.sql.extensions=graft.GraftSessionExtensions` to
  *     install at session build time.
  */
object Graft {

  private def arity(name: String, n: Int)(exprs: Seq[Expression]): Seq[Expression] = {
    require(exprs.length == n,
      s"Invalid number of arguments for function $name: expected $n, got ${exprs.length}")
    exprs
  }

  /** The value of a constant INT argument; `what` names it in the error
    * (e.g. "simhash64 bits").
    */
  private def constInt(what: String)(e: Expression): Int = e match {
    case lit if lit.foldable => lit.eval(null) match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$what must be a constant INT, got $other")
    }
    case _ => throw new IllegalArgumentException(s"$what must be a constant INT")
  }

  private[graft] val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "tokenize_ja_neologd" -> (exprs => TokenizeJaNeologd(exprs)),
    "graft_hash64" -> (exprs => graft.expr.GraftHash64(arity("graft_hash64", 1)(exprs).head)),
    "cosine_sim" -> (exprs => {
      val e = arity("cosine_sim", 2)(exprs)
      graft.expr.CosineSimilarity(e(0), e(1))
    }),
    "explode_ngrams" -> (exprs => {
      val e = arity("explode_ngrams", 2)(exprs)
      graft.expr.ExplodeNgrams(e(0), e(1))
    }),
    "simhash64" -> (exprs => {
      // (text[, bits]) — bits defaults to the Dedup operator's 30; capped
      // at 63 by the expression (sign-bit safety)
      require(exprs.nonEmpty && exprs.length <= 2,
        s"Invalid number of arguments for function simhash64: expected 1 or 2, got ${exprs.length}")
      val bits = if (exprs.length == 2) constInt("simhash64 bits")(exprs(1)) else 30
      graft.expr.SimHash64(exprs.head, bits)
    }),
    "shingle_hashes" -> (exprs => {
      val e = arity("shingle_hashes", 2)(exprs)
      graft.expr.ShingleHashes(e(0), constInt("shingle_hashes k")(e(1)))
    }),
    "ac_match" -> (exprs => {
      val e = arity("ac_match", 2)(exprs)
      val pats = e(1) match {
        case lit if lit.foldable => lit.eval(null) match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData =>
            a.toArray[org.apache.spark.unsafe.types.UTF8String](
              org.apache.spark.sql.types.StringType).map(_.toString)
          case other => throw new IllegalArgumentException(
            s"ac_match patterns must be a constant ARRAY<STRING>, got $other")
        }
        case _ => throw new IllegalArgumentException(
          "ac_match patterns must be a constant ARRAY<STRING>")
      }
      graft.expr.AcMatch(e(0), pats.toIndexedSeq)
    }),
    "rolling_window_hashes" -> (exprs => {
      val e = arity("rolling_window_hashes", 2)(exprs)
      graft.expr.RollingWindowHashes(e(0), constInt("rolling_window_hashes win")(e(1)))
    }),
    "l2_normalize" -> (exprs =>
      graft.expr.L2Normalize(arity("l2_normalize", 1)(exprs).head)))

  /** The optimizer rules both installers add, in order. */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(
    graft.rules.TokenCountRewrite, graft.rules.TokenizeOnceRewrite, graft.rules.LocalSortFold)

  def register(spark: SparkSession): Unit = {
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    // optimizer rules for an already-built session (the extensions path
    // injects them at build time); idempotent across repeated register calls
    val installed = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      installed ++ optimizerRules.filterNot(installed.contains)
  }
}

/** `spark.sql.extensions` installer — same (arity-checked) builders as
  * `Graft.register`.
  */
class GraftSessionExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Graft.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.expr", name),
        builder))
    }
    Graft.optimizerRules.foreach(rule => ext.injectOptimizerRule(_ => rule))
  }
}
