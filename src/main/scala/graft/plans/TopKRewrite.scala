package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Attribute, AttributeReference, EqualTo, Expression, GetStructField, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PredicateHelper, RowNumber, WindowExpression, WindowSpecDefinition, RowFrame, SpecifiedWindowFrame, UnboundedPreceding, CurrentRow}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.expressions.PosExplode
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.expressions.TopKRowsAgg

/** Optimizer rewrite: per-group window top-k → bounded aggregate, a
  * whole-plan-tier extension.
  *
  * Matches the canonical top-k-per-group idiom
  *
  *   Filter(rn <= k, Window(row_number() over (partition by P order by O)))
  *
  * and replaces the Window with the plan the ANN family uses natively:
  *
  *   Filter(rn <= k,                      // original predicate, verbatim
  *     Project(child cols from struct, rn = pos + 1,
  *       Generate(posexplode(topk),
  *         Aggregate(P, graft_topk_rows(O, row, k), child))))
  *
  * Why beat the built-in path: Spark's own InferWindowGroupLimit (3.5+)
  * bounds how many rows survive each map partition, but its physical
  * WindowGroupLimitExec still requires a (P, O) sort of the FULL input
  * stream on both sides of the exchange, and the Window above it sorts
  * again. The aggregate form never sorts the input: each row is one
  * bounded-buffer probe (O(1) reject in the common case), map-side
  * partials cap the shuffle at k rows per group per partition, and the
  * downstream is a k-sized explode. At 100 TB that is the difference
  * between sorting the corpus and streaming it.
  *
  * Equivalence argument, pinned by TopKRewriteSpec against the unrewritten
  * plan: the aggregate buffer is exactly the first k rows in (O) order
  * per (P) group with positions 0..k−1, so `pos + 1` reproduces
  * row_number; the ORIGINAL filter re-applies on top (free — rows are
  * already bounded), which also preserves any residual conjuncts and
  * exotic-but-bounded predicates (`rn = 3`). Output attributes keep their
  * exprIds, so parent plans are untouched. Ties keep an arbitrary row in
  * both forms (window sort vs buffer insert) — queries tie-break
  * explicitly, as their SQL oracles already require.
  *
  * Conservative scope: exactly one window expression, plain row_number
  * (rank/dense_rank tie semantics differ), deterministic non-empty sort
  * order, a literal bound with k ≤ MaxK (per-group state is k rows;
  * beyond that the window's sort is the better plan). A
  * WindowGroupLimit the built-in rule already inserted below the Window
  * is stripped — the aggregate subsumes it.
  */
object TopKRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Bound on rewritable k: the aggregate holds k rows per live group in
    * the hash-agg task state (spill-safe past the 500k-group fallback,
    * but a huge k × many groups is still the wrong shape vs one sort).
    */
  val MaxK = 65536

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        Window(Seq(alias @ Alias(
          WindowExpression(RowNumber(), WindowSpecDefinition(ps, os, frame)),
          _)), _, _, wchild, _))
        if os.nonEmpty && os.forall(_.child.deterministic) &&
          ps.forall(_.deterministic) && rowNumberFrame(frame) =>
      val rnAttr = alias.toAttribute
      upperBound(cond, rnAttr) match {
        case Some(k) if k >= 1 && k <= MaxK =>
          // the built-in group-limit node below the Window (if
          // InferWindowGroupLimit ran first) keeps the same top-k rows
          // the aggregate keeps — drop it, aggregate over its child
          val child = wchild match {
            case WindowGroupLimit(_, _, _, _, c) => c
            case c => c
          }
          val agg = TopKRowsAgg(
            orderExprs = os.map(_.child),
            directions = os.map(_.direction),
            nullOrderings = os.map(_.nullOrdering),
            rowExprs = child.output,
            rowNames = child.output.map(_.name),
            k = k)
          val topkAlias = Alias(agg.toAggregateExpression(), "graft_topk_rows")()
          val aggregate = Aggregate(ps, Seq(topkAlias), child)
          val posAttr = AttributeReference("graft_pos", IntegerType,
            nullable = false)()
          val rowAttr = AttributeReference("graft_row",
            agg.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
              .elementType, nullable = false)()
          val gen = Generate(PosExplode(topkAlias.toAttribute),
            unrequiredChildIndex = Seq(0), outer = false, qualifier = None,
            generatorOutput = Seq(posAttr, rowAttr), aggregate)
          // re-emit the child columns and the rank under their ORIGINAL
          // exprIds so every parent reference stays bound
          val cols = child.output.zipWithIndex.map { case (a, i) =>
            Alias(GetStructField(rowAttr, i, Some(a.name)), a.name)(
              exprId = a.exprId, qualifier = a.qualifier)
          }
          val rn = Alias(Add(posAttr, Literal(1)), alias.name)(
            exprId = rnAttr.exprId, qualifier = rnAttr.qualifier)
          Filter(cond, Project(cols :+ rn, gen))
        case _ => f
      }
  }

  /** row_number's frame is fixed ROWS UNBOUNDED PRECEDING..CURRENT ROW
    * (the analyzer normalizes it); anything else is not a row_number
    * the rewrite understands.
    */
  private def rowNumberFrame(frame: Expression): Boolean = frame match {
    case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) => true
    case _ => false
  }

  /** The tightest upper bound the predicate places on `rn`, if EVERY
    * conjunct referencing `rn` contributes one — `rn <= 10 AND rn = 3
    * AND p(x)` bounds at 3; `rn % 2 = 0` (no bound) disqualifies the
    * rewrite. Conjuncts NOT referencing rn are fine: the original
    * predicate re-applies after the rewrite.
    */
  private def upperBound(cond: Expression, rn: Attribute): Option[Int] = {
    val rnConjuncts = splitConjunctivePredicates(cond)
      .filter(_.references.contains(rn))
    if (rnConjuncts.isEmpty) return None
    val bounds = rnConjuncts.map {
      case LessThanOrEqual(r, IntLit(v)) if r.semanticEquals(rn) => Some(v)
      case LessThan(r, IntLit(v)) if r.semanticEquals(rn) => Some(v - 1)
      case EqualTo(r, IntLit(v)) if r.semanticEquals(rn) => Some(v)
      case EqualTo(IntLit(v), r) if r.semanticEquals(rn) => Some(v)
      case GreaterThanOrEqual(IntLit(v), r) if r.semanticEquals(rn) => Some(v)
      case GreaterThan(IntLit(v), r) if r.semanticEquals(rn) => Some(v - 1)
      case _ => None
    }
    if (bounds.forall(_.isDefined)) {
      val ks = bounds.flatten.map(b => math.min(b, Int.MaxValue.toLong).toInt)
      Some(ks.min)
    } else None
  }

  private object IntLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType) => Some(v)
      case _ => None
    }
  }

  /** Idempotently enable the rewrite on a live session (the programmatic
    * mirror of `spark.sql.extensions=graft.plans.GraftExtensions`).
    * extraOptimizations run AFTER the main optimizer batches, so the
    * rule sees pruned/pushed-down plans — including any WindowGroupLimit
    * the built-in top-k inference already inserted.
    */
  def register(spark: SparkSession): Unit =
    org.apache.spark.sql.GraftSqlShims.addOptimization(spark, TopKRewrite)
}
