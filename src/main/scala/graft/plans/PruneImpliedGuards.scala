package graft.plans

import graft.functions.GeomFn
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{FILTER, GENERATE, JOIN}

/** Drops an `isnotnull(E)` or `size(E) > 0` filter conjunct over a
  * computed, deterministic `E` when an operator above discards the same
  * rows anyway:
  *
  *   - a non-outer `explode`, `posexplode` or `inline` of `E` (or of the
  *     projection alias of `E`) emits nothing for a null or empty array;
  *   - an `=` conjunct of an inner or left-semi join condition never
  *     matches a null key.
  *
  * Spark infers exactly these guards (`InferFiltersFromGenerate` for
  * generators, constraint propagation for join keys) and pushes them
  * through the projection that computes `E`. Below it the guard
  * re-evaluates `E` — `word_shingles(split(text))`, `ivf_assign(…)`,
  * `st_z2Cell(…)` — once more per row. For a generator that is all it
  * does: the rows it prunes die in the same stage. For a join key it
  * trades that extra evaluation for the shuffle bytes of the null-key
  * rows, which now cross the exchange below a shuffled join before the
  * join drops them. Guards over plain columns stay: they are cheap and
  * reach the parquet reader as pushed filters.
  *
  * The walk is top-down. A generator or join hands the guards it
  * implies to its child, and they travel down to the filter that holds
  * them. Dropping a guard lets the rows it removed reach every operator
  * between that filter and the generator or join, so the guards travel
  * only through operators that cannot fail on such a row (under ANSI
  * `a[0]` fails on an empty array; a UDF may fail on a null). Those are
  * filters of null checks and comparisons over attributes, literals and
  * their widening casts, and projections of such values or of `E`
  * itself or of a part of `E` that every evaluation of `E` evaluates
  * (the operand of a cast, the first argument of a graft function);
  * past such a computed entry only the guards on that one `E` travel
  * on. A filter drops the guards on one `E`, and only when no conjunct
  * it keeps after the first of them can fail. `E` and those parts of it
  * see no new row: the dropped guard evaluated them on every row the
  * filter's earlier conjuncts let through. Any other operator starts
  * afresh. A guard nothing above implies — a user's `isNotNull` with no
  * generator, under `explode_outer`, a `<=>` key or a left-anti join —
  * stays.
  */
object PruneImpliedGuards extends Rule[LogicalPlan] with AliasHelper with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.containsPattern(FILTER) && plan.containsAnyPattern(GENERATE, JOIN))
      prune(plan, Nil)
    else plan

  /** The `E` of `isnotnull(E)` or `size(E) > 0`. */
  private def operand(c: Expression): Option[Expression] = c match {
    case IsNotNull(e) => Some(e)
    case GreaterThan(Size(e, _), Literal(0, _)) => Some(e)
    case _ => None
  }

  /** The `E` of a guard over a computed, deterministic `E`. */
  private def guarded(c: Expression): Option[Expression] =
    operand(c).filter(e => !e.isInstanceOf[Attribute] && e.deterministic)

  /** `e` and the parts of it that every evaluation of `e` evaluates:
    * the operand of a cast and the first argument of a graft function.
    */
  private def evaluated(e: Expression): Seq[Expression] = e +: (e match {
    case c: Cast => evaluated(c.child)
    case f: GeomFn if f.children.nonEmpty => evaluated(f.children.head)
    case _ => Nil
  })

  /** Cannot fail on any row: attributes, literals, widening casts of
    * them, and null checks or comparisons of those.
    */
  private def safe(e: Expression): Boolean = e match {
    case _: Attribute | _: Literal => true
    case Alias(c, _) => safe(c)
    case c: Cast => Cast.canUpCast(c.child.dataType, c.dataType) && safe(c.child)
    case _: IsNotNull | _: IsNull | _: Not | _: And | _: Or | _: BinaryComparison =>
      e.children.forall(safe)
    case _ => false
  }

  private def prune(plan: LogicalPlan, implied: Seq[Expression]): LogicalPlan = plan match {
    case Filter(cond, child) if implied.nonEmpty =>
      val set = ExpressionSet(implied)
      val conjuncts = splitConjunctivePredicates(cond)
      def over(e: Expression)(c: Expression) = guarded(c).exists(_.semanticEquals(e))
      def drops(e: Expression)(c: Expression) = set.contains(c) && over(e)(c)
      // the implied guards on the first guarded E go, when no conjunct
      // kept after the first of them can fail
      val e = conjuncts.find(c => set.contains(c) && guarded(c).nonEmpty).flatMap(guarded)
        .filter(e => conjuncts.dropWhile(!drops(e)(_)).forall(c => drops(e)(c) || safe(c)))
      val kept = e.fold(conjuncts)(e => conjuncts.filterNot(drops(e)))
      val passed = e.fold(implied)(e => implied.filter(over(e)))
      val below = prune(child, if (kept.forall(safe)) passed else Nil)
      if (kept.size == conjuncts.size) plan.withNewChildren(Seq(below))
      else kept.reduceOption(And).fold(below)(Filter(_, below))

    case p @ Project(list, child) if implied.nonEmpty =>
      val below = implied.map(replaceAlias(_, getAliasMap(p)))
      val computed = list.filterNot(safe).map {
        case Alias(c, _) => c
        case other => other
      }
      // past computed entries only the guards on one E travel on, and
      // only when evaluating E evaluates every one of them
      val passed =
        if (computed.isEmpty) below
        else below.flatMap(guarded).find(e => computed.forall(c => evaluated(e).exists(_.semanticEquals(c))))
          .fold(Seq.empty[Expression])(e => below.filter(guarded(_).exists(_.semanticEquals(e))))
      p.withNewChildren(Seq(prune(child, passed)))

    case g: Generate =>
      val own = g.generator match {
        case gen @ (_: ExplodeBase | _: Inline) if !g.outer =>
          val e = gen.children.head
          Seq(IsNotNull(e), GreaterThan(new Size(e), Literal(0)))
        case _ => Nil
      }
      g.withNewChildren(Seq(prune(g.child, own)))

    case j @ Join(left, right, Inner | LeftSemi, cond, _) =>
      val keys = cond.toSeq.flatMap(splitConjunctivePredicates).flatMap {
        case EqualTo(l, r) => Seq(l, r)
        case _ => Nil
      }
      def side(child: LogicalPlan): LogicalPlan = prune(child,
        keys.filter(k => k.references.nonEmpty && k.references.subsetOf(child.outputSet)).map(IsNotNull(_)))
      j.withNewChildren(Seq(side(left), side(right)))

    case other => other.withNewChildren(other.children.map(prune(_, Nil)))
  }
}
