package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._

import graft.sources.VersionedLake

/** Optimizer rule that answers unfiltered `COUNT(*)`, null-sensitive
  * `count(col)`, `MIN(col)` and `MAX(col)` over a versioned-lake scan
  * from MANIFEST METADATA alone — the table-format classic
  * (Delta/Iceberg do the same): every commit records each file's row
  * count, per-column null counts and per-column min/max, so
  *
  *   SELECT count(*), min(ts), max(ts) FROM time_travel('<lake>', v)
  *
  * needs a manifest read, not a table scan. This is the planner half
  * of [[graft.sources.VersionedLake.rowCount]] / the `lake_row_count`
  * TVF, as [[ZoneMapPrune]] is the planner half of `read_range`: the
  * explicit forms stay, the natural SQL gets the optimization
  * automatically.
  *
  * Scope guards (strictly the cases where the fold is provably exact):
  *  - Aggregate with NO grouping keys over a lake scan
  *    ([[graft.sources.VersionedLake.lakeScan]]; an attribute-only
  *    Project in between is fine, a Filter keeps the scan — zone maps
  *    bound files, not rows);
  *  - inside the aggregate list, every aggregate function is a plain
  *    `count(<non-null literal>)` (`count(*)` included), a
  *    `count(col)`, `min(col)` or `max(col)` over a DIRECT column — no
  *    DISTINCT, no FILTER clause; arbitrary scalar expressions AROUND
  *    the aggregates are fine (the fold substitutes literals and
  *    leaves the arithmetic);
  *  - `count(col)` folds as rows − recorded per-file null counts, and
  *    requires EVERY scanned file to record one for the column (a
  *    column added by schema evolution after a file was written —
  *    whose rows read back as nulls — keeps the scan);
  *  - a min/max column's type round-trips the manifest's double
  *    encoding EXACTLY: int family, float/double, date (epoch days),
  *    timestamp (epoch micros). Longs fold only when the folded value
  *    sits within double's 2^53 integer-exact range. Strings never fold
  *    (their recorded stats are truncated BOUNDS, not attained values);
  *    TimestampNTZ never folds (its stats encoding is
  *    session-timezone-dependent); decimals never fold (double
  *    round-trip not guaranteed);
  *  - every file the scan covers has recorded stats for every folded
  *    min/max column (a NaN-bearing double file records NO stats — so
  *    a NaN anywhere keeps the scan, preserving NaN-greatest max
  *    semantics). Partition- or point-pruned scans fold only their
  *    files' entries; an empty file list folds to NULL min/max and 0
  *    rows — the SQL semantics.
  */
object LakeAggregateFromManifest extends Rule[LogicalPlan] {

  /** 2^53 — the largest magnitude at which every long is exactly
    * representable as a double (the manifest's stats encoding). */
  val MaxExactLong: Double = 9007199254740992.0

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groups, aggExprs, child, _)
        if groups.isEmpty && aggExprs.nonEmpty =>
      rewrite(aggExprs, child).getOrElse(agg)
  }

  private def rewrite(aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val aggs = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae })
    if (aggs.isEmpty) return None
    if (!aggs.forall(ae => !ae.isDistinct && ae.filter.isEmpty &&
      (ae.aggregateFunction match {
        case Count(Seq(_: AttributeReference)) => true
        case Count(children) => children.forall(c => c.foldable && c.eval() != null)
        case Min(a: AttributeReference) => exactType(a.dataType)
        case Max(a: AttributeReference) => exactType(a.dataType)
        case _ => false
      }))) return None
    val (_, _, entries) = scanOf(child).flatMap(VersionedLake.lakeScan)
      .getOrElse(return None)
    val totalRows = entries.map(_.rows).sum
    // fold each aggregate to a literal; refuse the whole rewrite if any
    // single one can't be answered exactly from the manifest
    val folded: Map[AggregateExpression, Literal] = aggs.map { ae =>
      val lit = ae.aggregateFunction match {
        case Count(Seq(a: AttributeReference)) =>
          if (entries.forall(_.nullCounts.contains(a.name)))
            Literal(totalRows - entries.map(_.nullCounts(a.name)).sum, LongType)
          else return None
        case Count(_) => Literal(totalRows, LongType)
        case Min(a: AttributeReference) =>
          foldMinMax(entries, a, isMin = true).getOrElse(return None)
        case Max(a: AttributeReference) =>
          foldMinMax(entries, a, isMin = false).getOrElse(return None)
        case _ => return None
      }
      ae -> lit
    }.toMap
    val newExprs = aggExprs.map(_.transform {
      case ae: AggregateExpression => folded(ae)
    }.asInstanceOf[NamedExpression])
    Some(Project(newExprs, OneRowRelation()))
  }

  /** The lake relation, looked through an attribute-only Project
    * (column pruning routinely leaves one). Anything else — above all
    * a Filter — keeps the scan. */
  private def scanOf(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr: LogicalRelation => Some(lr)
    case Project(projectList, lr: LogicalRelation)
        if projectList.forall(_.isInstanceOf[AttributeReference]) => Some(lr)
    case _ => None
  }

  /** The per-file stats fold: min of minima / max of maxima, decoded
    * back to the column's INTERNAL Catalyst value. None = keep the
    * scan (a file without stats for the column, or a long that
    * exceeds double's integer-exact range). Empty file list → NULL. */
  private def foldMinMax(entries: Seq[VersionedLake.Entry],
      a: AttributeReference, isMin: Boolean): Option[Literal] = {
    if (entries.isEmpty) return Some(Literal(null, a.dataType))
    val per = entries.map(_.colStats.get(a.name).getOrElse(return None))
    val d = if (isMin) per.map(_._1).min else per.map(_._2).max
    // beyond double's integer-exact range the recorded stat is already
    // rounded — folding it would return a value a real scan would not.
    // Applies to BOTH 64-bit integral encodings (longs, and timestamps
    // stored as epoch micros); strict < keeps the ambiguous boundary
    // out (2^53 as a double could round-trip from 2^53 or 2^53+1).
    def exactLong: Option[Long] =
      if (math.abs(d) < MaxExactLong && d == d.toLong.toDouble) Some(d.toLong)
      else None
    val v: Any = a.dataType match {
      case DoubleType => d
      case FloatType => d.toFloat
      case IntegerType => d.toInt
      case ShortType => d.toShort
      case ByteType => d.toByte
      case DateType => d.toInt
      case TimestampType => exactLong.getOrElse(return None)
      case LongType => exactLong.getOrElse(return None)
      case _ => return None
    }
    Some(Literal(v, a.dataType))
  }

  /** Types whose manifest double encoding is exact and reversible. */
  private def exactType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType => true
    case _ => false
  }
}
