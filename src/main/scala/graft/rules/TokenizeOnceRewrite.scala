package graft.rules

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSet, Expression, Explode, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.expr.TokenizeJaNeologd

/** Optimizer rule: evaluate `tokenize_ja_neologd` ONCE when the same call
  * feeds both an `explode` generator and the surrounding projection
  * (SURVEY §2-B "possible later perf Rule: push tokenize below explode
  * duplication").
  *
  * The hazard shape is a single select like
  * `select(explode(tokenize(text)) as tok, size(tokenize(text)) as n)`:
  * Catalyst plans it as Project(.., size(tokenize(text)), Generate(
  * explode(tokenize(text)), .., scan)) — the generator copy runs once per
  * INPUT row inside GenerateExec, but the projection copy re-runs the full
  * Viterbi lattice once per OUTPUT row, i.e. token-count times per
  * document. (The two-step alias form `withColumn("toks", ...)` never
  * duplicates — a Project pinned under Generate carries the array — so
  * this rule rewrites the one-select shape INTO that form.)
  *
  * Rewrite: Project(projList, Generate(Explode(tok), ...)) where projList
  * contains a semantically-equal `tok` becomes
  * Project(projList[tok := a], Generate(Explode(a),
  * Project(child.output :+ Alias(tok) as a, child))) — the tokenize runs
  * once per input row in the injected Project; the generator explodes the
  * materialized array; downstream references read the attribute.
  * `unrequiredChildIndex` is computed HERE against the injected Project's
  * output (indices the new projection never references): experimental
  * extraOptimizations run AFTER the main optimizer batches, so column
  * pruning will NOT re-derive it — resetting to Nil (the r16 version)
  * kept every child column plus the materialized token array riding
  * through GenerateExec per output row (ADVICE r16). The generator still
  * reads the alias from its child regardless — unrequiredChildIndex only
  * trims what Generate FORWARDS. The rewritten generator is
  * `Explode(attr)`, so the rule cannot re-fire.
  */
object TokenizeOnceRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projList,
        g @ Generate(e @ Explode(tok: TokenizeJaNeologd), _, outer, qualifier, genOutput, child))
        if projList.exists(ne => ne.exists {
          case t: TokenizeJaNeologd => t.semanticEquals(tok)
          case _ => false
        }) =>
      val alias = Alias(tok, "_graft_toks")()
      val below = Project(child.output :+ alias, child)
      val newProjList = projList.map(_.transform {
        case t: TokenizeJaNeologd if t.semanticEquals(tok) => alias.toAttribute
      }.asInstanceOf[NamedExpression])
      val required = org.apache.spark.sql.catalyst.expressions.AttributeSet(
        newProjList.flatMap(_.references))
      val unrequired = below.output.zipWithIndex.collect {
        case (a, i) if !required.contains(a) => i
      }
      val newGenerate =
        Generate(Explode(alias.toAttribute), unrequired, outer, qualifier, genOutput, below)
      Project(newProjList, newGenerate)

    // Second hazard shape (VERDICT r16 stretch audit): the same tokenize
    // call in a Filter predicate AND the projection above it —
    // `df.filter(size(tokenize(text)) > n).select(tokenize(text) …)`.
    // Codegen fuses FilterExec and ProjectExec into one stage but never
    // eliminates subexpressions ACROSS operators, so the lattice runs
    // twice per input row. Rewrite to Project(projList[tok := a],
    // Filter(cond[tok := a], Project(child.* :+ tok as a, child))) —
    // once per row, strictly fewer evaluations PROVIDED the predicate
    // already forced tokenize on every input row: the extractor only
    // fires on tokenize calls the predicate evaluates UNCONDITIONALLY
    // (not under a short-circuit right operand, If, or CaseWhen — with
    // `cheap_pred && size(tokenize(…)) > n` the original plan skips
    // tokenize whenever cheap_pred fails, and hoisting it into the
    // injected Project would be a regression on selective cheap_preds;
    // ADVICE r17). The symmetric Filter-over-Project shape needs no
    // rule: a filter on the projected COLUMN shares the expression via
    // the attribute, and Catalyst's own pushdown handles re-derived
    // predicates before this rule runs.
    case FilterProjectDup(projList, cond, child, tok) =>
      val alias = Alias(tok, "_graft_toks")()
      val below = Project(child.output :+ alias, child)
      val newCond = cond.transform {
        case t: TokenizeJaNeologd if t.semanticEquals(tok) => alias.toAttribute
      }
      val newProjList = projList.map(_.transform {
        case t: TokenizeJaNeologd if t.semanticEquals(tok) => alias.toAttribute
      }.asInstanceOf[NamedExpression])
      Project(newProjList, Filter(newCond, below))

    // Third hazard shape (round-18 audit): the same tokenize call as a JOIN
    // key/condition AND in the projection above the join —
    // `a.join(b, size(tokenize(a.text)) === b.n).select(tokenize(a.text) …)`.
    // The measured plan keeps BOTH calls (the key evaluates once per stream
    // row, the projection once per OUTPUT row — at 1:N match fan-out the
    // projection copy is the explode-class hazard). In round 18 a hand
    // A/B timer, since retired, measured 175.4 → 140.3 ms min-of-5 at 1:1
    // fan-out on the cached sf0.01 corpus. Rewrite: materialize
    // below the join on the side the call binds to, pruned to the columns
    // the new projection/condition still need (this rule runs AFTER column
    // pruning, so prune here). The fourth audited shape —
    // Aggregate(tokenize)/Project(tokenize) — is a measured NEGATIVE:
    // Catalyst already materializes the grouping expression in an injected
    // Project and codegen subexpression elimination covers the aggregate
    // input (round 18: dup 196.6 ms vs staged 183.3 ms min-of-5, within
    // noise), so no Aggregate case exists here.
    case JoinProjectDup(projList, j, tok) =>
      val alias = Alias(tok, "_graft_toks")()
      val newCond = j.condition.get.transform {
        case t: TokenizeJaNeologd if t.semanticEquals(tok) => alias.toAttribute
      }
      val newProjList = projList.map(_.transform {
        case t: TokenizeJaNeologd if t.semanticEquals(tok) => alias.toAttribute
      }.asInstanceOf[NamedExpression])
      val required = AttributeSet(newProjList.flatMap(_.references)) ++ newCond.references
      def inject(side: LogicalPlan): LogicalPlan =
        Project(side.output.filter(required.contains) :+ alias, side)
      val (nl, nr) =
        if (tok.references.subsetOf(j.left.outputSet)) (inject(j.left), j.right)
        else (j.left, inject(j.right))
      Project(newProjList, j.copy(left = nl, right = nr, condition = Some(newCond)))
  }

  /** A tokenize call appearing in BOTH the filter predicate and the
    * projection (the cross-operator duplication codegen cannot eliminate).
    * Extractor form so the scan runs ONCE per node — a guard +
    * body-recompute ran it twice on every Project-over-Filter in the plan
    * (round-17 review finding).
    */
  private object FilterProjectDup {
    def unapply(plan: LogicalPlan)
        : Option[(Seq[NamedExpression], Expression, LogicalPlan, TokenizeJaNeologd)] =
      plan match {
        case Project(projList, Filter(cond, child)) =>
          unconditionalTokenizes(cond).find { tok =>
            projList.exists(ne => ne.exists {
              case t: TokenizeJaNeologd => t.semanticEquals(tok)
              case _ => false
            })
          }.map(tok => (projList, cond, child, tok))
        case _ => None
      }
  }

  /** A tokenize call appearing in BOTH the join condition and the
    * projection above the join, binding entirely to ONE join side (the
    * side the materializing Project can be pushed to). Same
    * unconditional-evaluation guard as the Filter shape; the
    * null-padded-side case of outer joins is safe because tokenize is
    * null→null, so the materialized attribute and a recomputation agree.
    */
  private object JoinProjectDup {
    def unapply(plan: LogicalPlan): Option[(Seq[NamedExpression], Join, TokenizeJaNeologd)] =
      plan match {
        case Project(projList, j @ Join(left, right, _, Some(cond), _)) =>
          unconditionalTokenizes(cond).find { tok =>
            tok.references.nonEmpty &&
            (tok.references.subsetOf(left.outputSet) ||
              tok.references.subsetOf(right.outputSet)) &&
            projList.exists(ne => ne.exists {
              case t: TokenizeJaNeologd => t.semanticEquals(tok)
              case _ => false
            })
          }.map(tok => (projList, j, tok))
        case _ => None
      }
  }

  /** Tokenize calls the predicate evaluates on EVERY input row — the only
    * ones the Filter/Project rewrite may hoist without adding evaluations.
    * And/Or LEFT operands always evaluate (Spark short-circuits left to
    * right), so they recurse; right operands, If branches (but not its
    * always-evaluated condition), and CaseWhen are conditional and stop
    * the walk (ADVICE r17: `cheap && size(tokenize(…)) > n` evaluates
    * tokenize only when cheap passes).
    */
  private def unconditionalTokenizes(e: Expression): Seq[TokenizeJaNeologd] = e match {
    case t: TokenizeJaNeologd => Seq(t)
    case a: org.apache.spark.sql.catalyst.expressions.And => unconditionalTokenizes(a.left)
    case o: org.apache.spark.sql.catalyst.expressions.Or => unconditionalTokenizes(o.left)
    case i: org.apache.spark.sql.catalyst.expressions.If => unconditionalTokenizes(i.predicate)
    case c: org.apache.spark.sql.catalyst.expressions.CaseWhen =>
      c.branches.headOption.map(b => unconditionalTokenizes(b._1)).getOrElse(Nil)
    case _: org.apache.spark.sql.catalyst.expressions.Coalesce => Nil
    case other => other.children.flatMap(unconditionalTokenizes)
  }
}
