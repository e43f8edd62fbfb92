package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

import graft.store.EventsTable

/** Catalyst optimizer rule encoding the events-table layout invariant
  * `event_hour = floor(time_us / 3_600_000_000)` (EventsTable
  * .withLayoutCols): any conjunct bounding raw `time_us` with a literal
  * implies a bound on the `event_hour` partition column, which this
  * rule adds so the scan PARTITION-prunes — not just row-group-skips.
  *
  * This closes, at the optimizer level and for every query, the exact
  * gap a hand-written predicate has: `events.filter($"time_us" >= c)`
  * reads row-group stats in all 24h × N days of partitions, while the
  * rewritten filter lists only the hours the range covers. (The same
  * derivation EventsTable.replay does by hand — with this rule
  * installed, callers no longer have to.)
  *
  * Applies only to relations exposing BOTH `time_us` and `event_hour`
  * — the engine's own layout signature — and is idempotent: plans
  * already carrying an `event_hour` conjunct are left alone.
  *
  * Soundness guard: the two attributes must originate from the SAME
  * leaf relation (traced by exprId through whatever projections/joins
  * sit between the Filter and the scan). Name-matching alone would let
  * a Filter above a join pair one relation's `time_us` with another
  * relation's `event_hour`, deriving a partition bound where the
  * floor(time_us/HourUs) invariant does not hold — silently dropping
  * rows. An aliased/derived column gets a fresh exprId and so never
  * traces to a leaf, which conservatively (and correctly) disables the
  * rule for it.
  *
  * Install per session: `spark.experimental.extraOptimizations ++=
  * Seq(HourBounds)`, or cluster-wide via
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object HourBounds extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, child) =>
      val timeAttr = child.output.find(_.name == "time_us")
      val hourAttr = child.output.find(_.name == EventsTable.PartitionCol)
      (timeAttr, hourAttr) match {
        case (Some(t), Some(h))
            if t.dataType == LongType &&
              (h.dataType == LongType || h.dataType == org.apache.spark.sql.types.IntegerType) &&
              sameLeafOrigin(child, t, h) =>
          val conjuncts = splitConjuncts(cond)
          if (conjuncts.exists(_.references.contains(h))) f // already bounded
          else {
            val derived = conjuncts.flatMap(hourBound(_, t, h))
            if (derived.isEmpty) f
            else Filter(derived.foldLeft(cond)(And(_, _)), child)
          }
        case _ => f
      }
  }

  /** True iff one leaf relation's output carries both attributes (by
    * exprId — `AttributeSet.contains` ignores names). Only then does the
    * events-table layout invariant relate them.
    */
  private def sameLeafOrigin(child: LogicalPlan, t: Attribute, h: Attribute): Boolean =
    child.collectLeaves().exists(l => l.outputSet.contains(t) && l.outputSet.contains(h))

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Hour bound implied by one time_us conjunct. Bounds are
    * conservative on the hour grid (a `>` lower bound still includes
    * its own hour), so the rewrite never drops rows; the time domain
    * is non-negative so integer division floors. The literal takes the
    * partition column's own type (partition directories re-infer as
    * int) — an analysis-stage cast is not available mid-optimizer.
    */
  private def hourBound(e: Expression, t: Attribute, h: Attribute): Option[Expression] = {
    def isT(a: Expression) = a.semanticEquals(t)
    def lit(v: Long): Literal = h.dataType match {
      case LongType => Literal(v, LongType)
      case _ => Literal(math.min(v, Int.MaxValue).toInt,
        org.apache.spark.sql.types.IntegerType)
    }
    e match {
      case GreaterThanOrEqual(a, Literal(v: Long, LongType)) if isT(a) =>
        Some(GreaterThanOrEqual(h, lit(v / EventsTable.HourUs)))
      case GreaterThan(a, Literal(v: Long, LongType)) if isT(a) =>
        Some(GreaterThanOrEqual(h, lit(v / EventsTable.HourUs)))
      case LessThanOrEqual(a, Literal(v: Long, LongType)) if isT(a) =>
        Some(LessThanOrEqual(h, lit(v / EventsTable.HourUs)))
      case LessThan(a, Literal(v: Long, LongType)) if isT(a) =>
        // t < v ⇔ t ≤ v-1: exact on hour boundaries ((v-1)/HourUs
        // stays 0 for v ≤ 0 under toward-zero division — conservative)
        Some(LessThanOrEqual(h, lit((v - 1) / EventsTable.HourUs)))
      case EqualTo(a, Literal(v: Long, LongType)) if isT(a) =>
        Some(EqualTo(h, lit(v / EventsTable.HourUs)))
      // literal-on-left mirrors
      case GreaterThanOrEqual(Literal(v: Long, LongType), a) if isT(a) =>
        Some(LessThanOrEqual(h, lit(v / EventsTable.HourUs)))
      case GreaterThan(Literal(v: Long, LongType), a) if isT(a) => // v > t ⇔ t < v
        Some(LessThanOrEqual(h, lit((v - 1) / EventsTable.HourUs)))
      case LessThanOrEqual(Literal(v: Long, LongType), a) if isT(a) =>
        Some(GreaterThanOrEqual(h, lit(v / EventsTable.HourUs)))
      case LessThan(Literal(v: Long, LongType), a) if isT(a) =>
        Some(GreaterThanOrEqual(h, lit(v / EventsTable.HourUs)))
      case _ => None
    }
  }
}

/** `spark.sql.extensions` entry point installing [[HourBounds]] and
  * the [[Fence]] planner strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => HourBounds)
    ext.injectPlannerStrategy(_ => FenceStrategy)
  }
}
