package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Optimizer rule that answers a bare `COUNT(*)` over a versioned-lake
  * scan from MANIFEST METADATA alone — the table-format classic
  * (Delta/Iceberg do the same): every commit records each file's row
  * count from its parquet footer, so
  *
  *   SELECT count(*) FROM time_travel('<lake>', v)
  *
  * needs a manifest read, not a table scan. This is the planner half
  * of [[graft.sources.VersionedLake.rowCount]] / the `lake_row_count`
  * TVF, exactly as [[ZoneMapPrune]] is the planner half of
  * `read_range`: the explicit forms stay, the natural SQL gets the
  * optimization automatically.
  *
  * Scope guards (same discipline as ZoneMapPrune — a rule that fires
  * wrongly is worse than no rule):
  *  - Aggregate with NO grouping keys, DIRECTLY over a registered lake
  *    relation (an attribute-only Project in between is fine; a Filter
  *    is not — filtered counts must scan);
  *  - every aggregate expression is a plain `count(<non-null literal>)`
  *    (`count(*)` included) or a null-sensitive `count(col)` over a
  *    DIRECT column — no DISTINCT, no FILTER clause, nothing else in
  *    the select list. `count(col)` folds as rows − recorded per-file
  *    null counts, and requires EVERY scanned file to record one for
  *    the column (a column added by schema evolution after a file was
  *    written — whose rows read back as nulls — keeps the scan);
  *  - every file the scan covers is a manifest entry (partition- or
  *    point-pruned scans still qualify: the count folds only the
  *    scanned files' entries).
  *
  * `spark.graft.countmeta.enabled=false` switches the rule off.
  */
case class LakeCountFromManifest(spark: SparkSession) extends Rule[LogicalPlan] {

  import LakeCountFromManifest._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!spark.conf.getOption(EnabledKey).forall(_.toBoolean)) return plan
    plan.transformUp {
      case agg @ Aggregate(groups, aggExprs, child, _)
          if groups.isEmpty && aggExprs.nonEmpty && aggExprs.forall(isPlainCount) =>
        (for {
          lr <- scanOf(child)
          info <- graft.sources.VersionedLake.zoneInfoForScan(
            lr.relation, scanFiles(lr))
          vals <- countsFromManifest(lr, aggExprs, info._1, info._2)
        } yield LocalRelation(agg.output, Seq(InternalRow.fromSeq(vals))))
          .getOrElse(agg)
    }
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

  private def scanFiles(lr: LogicalRelation): Seq[String] = lr.relation match {
    case hfs: HadoopFsRelation => hfs.location.inputFiles.toSeq
    case _ => Seq.empty
  }

  /** count(*) (non-null-literal children) and null-sensitive
    * count(col) over a DIRECT column both qualify — the latter folds
    * from the recorded per-file null counts. */
  private def isPlainCount(e: NamedExpression): Boolean = e match {
    case Alias(ae: AggregateExpression, _) =>
      !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
        case Count(Seq(_: AttributeReference)) => true
        case Count(children) =>
          children.forall(c => c.foldable && c.eval() != null)
        case _ => false
      })
    case _ => false
  }

  private def countsFromManifest(lr: LogicalRelation,
      aggExprs: Seq[NamedExpression], lakeDir: String,
      v: Int): Option[Seq[Any]] = {
    val current = lr.relation match {
      case hfs: HadoopFsRelation =>
        hfs.location.inputFiles
          .map(graft.sources.VersionedLake.normalizePath).toSet
      case _ => return None
    }
    val entries = graft.sources.VersionedLake
      .manifestEntriesForPlanning(lakeDir, v)
      .getOrElse(return None) // huge uncached manifest: keep the scan
      .filter(e => current.contains(
        graft.sources.VersionedLake.normalizePath(e.path)))
    if (entries.size != current.size) return None
    val total = entries.map(_.rows).sum
    val vals = aggExprs.map {
      case Alias(ae: AggregateExpression, _) => ae.aggregateFunction match {
        // count(col) = rows - nulls, exact ONLY when every scanned
        // file records a null count for the column (a column added by
        // schema evolution after a file was written — whose rows
        // surface as nulls on read — keeps the scan)
        case Count(Seq(a: AttributeReference)) =>
          if (entries.forall(_.nullCounts.contains(a.name)))
            total - entries.map(_.nullCounts(a.name)).sum
          else return None
        case Count(_) => total
        case _ => return None
      }
      case _ => return None
    }
    Some(vals)
  }
}

object LakeCountFromManifest {
  val EnabledKey = "spark.graft.countmeta.enabled"
}

/** Optimizer rule that answers unfiltered `MIN(col)` / `MAX(col)` (and
  * any `COUNT(*)`s riding the same select list) over a versioned-lake
  * scan from the MANIFEST's zone maps — the natural completion of
  * [[LakeCountFromManifest]]: every commit already records per-file
  * per-column min/max, and the min over files of the per-file minima
  * IS the table minimum when every scanned file has stats.
  *
  * Scope guards (strictly the cases where the fold is provably exact):
  *  - Aggregate with NO grouping keys over a registered lake scan
  *    (attribute-only Project in between fine; Filter keeps the scan —
  *    zone maps bound files, not rows);
  *  - inside the aggregate list, every aggregate function is a plain
  *    `min(col)` / `max(col)` over a DIRECT column, or a `count(*)`
  *    (non-null literal child) — no DISTINCT, no FILTER clause;
  *    arbitrary scalar expressions AROUND the aggregates are fine
  *    (the fold substitutes literals and leaves the arithmetic);
  *  - the column's type round-trips the manifest's double encoding
  *    EXACTLY: int family, float/double, date (epoch days), timestamp
  *    (epoch micros). Longs fold only when the folded value sits
  *    within double's 2^53 integer-exact range. Strings never fold
  *    (their recorded stats are truncated BOUNDS, not attained
  *    values); TimestampNTZ never folds (its stats encoding is
  *    session-timezone-dependent); decimals never fold (double
  *    round-trip not guaranteed).
  *  - every file the scan covers has recorded stats for every folded
  *    column (a NaN-bearing double file records NO stats — so a NaN
  *    anywhere keeps the scan, preserving NaN-greatest max semantics).
  *    An empty file list folds to NULL min/max and 0 rows — the SQL
  *    semantics.
  *
  * `spark.graft.minmaxmeta.enabled=false` switches the rule off.
  */
case class LakeMinMaxFromManifest(spark: SparkSession) extends Rule[LogicalPlan] {

  import LakeMinMaxFromManifest._
  import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
  import org.apache.spark.sql.catalyst.plans.logical.OneRowRelation
  import org.apache.spark.sql.types._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!spark.conf.getOption(EnabledKey).forall(_.toBoolean)) return plan
    plan.transformUp {
      case agg @ Aggregate(groups, aggExprs, child, _)
          if groups.isEmpty && aggExprs.nonEmpty =>
        rewrite(agg, aggExprs, child).getOrElse(agg)
    }
  }

  private def rewrite(agg: Aggregate, aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val lr = scanOf(child).getOrElse(return None)
    val (lakeDir, v) = graft.sources.VersionedLake.zoneInfoForScan(
      lr.relation, scanFiles(lr)).getOrElse(return None)
    val aggs = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae })
    if (aggs.isEmpty) return None
    // at least one min/max (pure counts belong to LakeCountFromManifest)
    if (!aggs.exists(_.aggregateFunction match {
      case Min(_) | Max(_) => true; case _ => false
    })) return None
    if (!aggs.forall(ae => !ae.isDistinct && ae.filter.isEmpty &&
      (ae.aggregateFunction match {
        case Count(Seq(_: AttributeReference)) => true
        case Count(children) => children.forall(c => c.foldable && c.eval() != null)
        case Min(a: AttributeReference) => exactType(a.dataType)
        case Max(a: AttributeReference) => exactType(a.dataType)
        case _ => false
      }))) return None
    val current = lr.relation match {
      case hfs: HadoopFsRelation =>
        hfs.location.inputFiles
          .map(graft.sources.VersionedLake.normalizePath).toSet
      case _ => return None
    }
    val entries = graft.sources.VersionedLake
      .manifestEntriesForPlanning(lakeDir, v)
      .getOrElse(return None) // huge uncached manifest: keep the scan
      .filter(e => current.contains(
        graft.sources.VersionedLake.normalizePath(e.path)))
    if (entries.size != current.size) return None
    val totalRows = entries.map(_.rows).sum
    // fold each aggregate to a literal; refuse the whole rewrite if any
    // single one can't be answered exactly from the manifest
    val folded: Map[AggregateExpression, Literal] = aggs.map { ae =>
      val lit = ae.aggregateFunction match {
        // null-sensitive count(col): rows − recorded per-file nulls
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

  /** The per-file stats fold: min of minima / max of maxima, decoded
    * back to the column's INTERNAL Catalyst value. None = keep the
    * scan (a file without stats for the column, or a long that
    * exceeds double's integer-exact range). Empty file list → NULL. */
  private def foldMinMax(entries: Seq[graft.sources.VersionedLake.Entry],
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

  private def scanOf(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr: LogicalRelation => Some(lr)
    case Project(projectList, lr: LogicalRelation)
        if projectList.forall(_.isInstanceOf[AttributeReference]) => Some(lr)
    case _ => None
  }

  private def scanFiles(lr: LogicalRelation): Seq[String] = lr.relation match {
    case hfs: HadoopFsRelation => hfs.location.inputFiles.toSeq
    case _ => Seq.empty
  }
}

object LakeMinMaxFromManifest {
  val EnabledKey = "spark.graft.minmaxmeta.enabled"

  /** 2^53 — the largest magnitude at which every long is exactly
    * representable as a double (the manifest's stats encoding). */
  val MaxExactLong: Double = 9007199254740992.0
}
