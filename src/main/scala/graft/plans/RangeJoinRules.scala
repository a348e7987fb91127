package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Optimizer rule that rewrites interval-containment theta joins into
  * the binned equi-join of [[graft.operators.Temporal.rangeJoin]] —
  * AUTOMATICALLY, at the plan level, so users can write the natural
  * predicate
  *
  *   points.join(ivs, cond && t >= start && t < end)
  *
  * and still get a hash join. Without the rewrite Catalyst plans the
  * containment pair as a post-join condition: with no equi conjunct the
  * join is a BroadcastNestedLoopJoin (O(n·m) comparisons — the classic
  * 100 TB range-join trap), and even with equi keys every per-key pair
  * is materialized before the range filter. The rewrite adds a derived
  * equi conjunct — point side: its one time bin; interval side: the
  * covered bins, exploded (≤ len/width + 1 rows) — so the shuffle is
  * hash-partitioned on (keys..., bin) and candidate amplification is
  * bounded by the bin expansion factor. Because a contained point's bin
  * always lies within the interval's covered bins (integer floor-div is
  * monotone), the added conjunct is implied by the original predicate:
  * the rewrite is semantics-preserving, and each qualifying pair still
  * emerges exactly once (the point has exactly one bin).
  *
  * Scope guards (deliberately narrow — a rule that fires wrongly is
  * worse than no rule): INNER joins whose condition conjuncts include
  * `t >= s` and `t < e` over timestamp ATTRIBUTES with t from one
  * side and s, e from the other; empty intervals are dropped by a
  * `e > s` pre-filter (also what keeps the bin Sequence ascending).
  * Already-rewritten joins are skipped (the marker attribute name).
  *
  * Bin width comes from `spark.graft.rangejoin.bin.micros` (default 30
  * minutes); `spark.graft.rangejoin.enabled=false` switches the rule
  * off. Width should be of the order of the typical interval length —
  * far smaller explodes the interval side, far larger degrades to the
  * per-bin cross product.
  */
case class RangeJoinBinRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  import RangeJoinBinRewrite._

  private def cfg(key: String, default: String): String =
    spark.conf.getOption(key).getOrElse(default)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!cfg(EnabledKey, "true").toBoolean) return plan
    val binMicros = cfg(BinKey, DefaultBinMicros.toString).toLong
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if !alreadyRewritten(cond) =>
        findContainment(j, cond).map { c =>
          val w = Literal(binMicros, LongType)
          val one = Literal(1L, LongType)

          // Point side: its single bin, as a projected column.
          val pBin = AttributeReference(BinName, LongType, nullable = true)()
          val pSide = Project(
            c.pointChild.output :+
              Alias(IntegralDivide(UnixMicros(c.t), w), BinName)(pBin.exprId),
            c.pointChild)

          // Interval side: drop empties (keeps the Sequence ascending),
          // then explode the covered-bin range.
          val gBin = AttributeReference(BinName, LongType, nullable = false)()
          val gSide = Generate(
            // Sequence is TimeZoneAwareExpression: an optimizer-built
            // instance stays unresolved until the zone is pinned (the
            // long-typed args never use it, but `resolved` checks it).
            Explode(Sequence(
              IntegralDivide(UnixMicros(c.s), w),
              IntegralDivide(Subtract(UnixMicros(c.e), one), w),
              None, Some(conf.sessionLocalTimeZone))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(gBin),
            Filter(GreaterThan(c.e, c.s), c.intervalChild))

          val (newLeft, newRight) =
            if (c.pointIsLeft) (pSide, gSide) else (gSide, pSide)
          val newJoin = Join(newLeft, newRight, Inner,
            Some(And(cond, EqualTo(pBin, gBin))), hint)
          Project(j.output, newJoin)
        }.getOrElse(j)
    }
  }

  /** First (t, s, e) triple such that `t >= s` and `t < e` are
    * conjuncts, all three timestamp attributes, t on one side and both
    * bounds on the other. */
  private def findContainment(j: Join, cond: Expression): Option[Containment] = {
    val conjuncts = splitConjuncts(cond)
    // normalized (t, s): t >= s in either spelling
    val lower = conjuncts.collect {
      case GreaterThanOrEqual(t: AttributeReference, s: AttributeReference) => (t, s)
      case LessThanOrEqual(s: AttributeReference, t: AttributeReference) => (t, s)
    }
    val upper = conjuncts.collect {
      case LessThan(t: AttributeReference, e: AttributeReference) => (t, e)
      case GreaterThan(e: AttributeReference, t: AttributeReference) => (t, e)
    }
    val leftOut = j.left.outputSet
    val rightOut = j.right.outputSet
    (for {
      (t, s) <- lower.iterator
      (t2, e) <- upper.iterator
      if t.semanticEquals(t2)
      if t.dataType == TimestampType &&
        s.dataType == TimestampType && e.dataType == TimestampType
      pointIsLeft <-
        if (leftOut.contains(t) && rightOut.contains(s) && rightOut.contains(e))
          Iterator(true)
        else if (rightOut.contains(t) && leftOut.contains(s) && leftOut.contains(e))
          Iterator(false)
        else Iterator.empty
    } yield Containment(t, s, e, pointIsLeft,
      if (pointIsLeft) j.left else j.right,
      if (pointIsLeft) j.right else j.left)).nextOption()
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  private def alreadyRewritten(cond: Expression): Boolean =
    cond.references.exists(_.name == BinName)
}

object RangeJoinBinRewrite {
  val BinName = "_graft_bin"
  val EnabledKey = "spark.graft.rangejoin.enabled"
  val BinKey = "spark.graft.rangejoin.bin.micros"
  val DefaultBinMicros: Long = 30L * 60L * 1000000L

  private final case class Containment(
      t: AttributeReference, s: AttributeReference, e: AttributeReference,
      pointIsLeft: Boolean, pointChild: LogicalPlan, intervalChild: LogicalPlan)
}
