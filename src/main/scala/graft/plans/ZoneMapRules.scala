package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** Optimizer rule that turns range predicates over a versioned-lake
  * scan into MANIFEST-LEVEL file skipping — automatically, so the
  * natural SQL
  *
  *   SELECT * FROM time_travel('<lake>', v) WHERE x BETWEEN lo AND hi
  *
  * reads only the files whose recorded zone map overlaps [lo, hi],
  * without opting in through the `read_range` TVF — and point
  * predicates additionally probe the per-file BLOOM filters
  * ([[extractPointKeys]]), so `WHERE key = 42` over a Bloom-indexed
  * lake is the automatic twin of `read_point`. The lake already
  * records per-file per-column min/max at every commit
  * ([[graft.sources.VersionedLake]]'s colStats); this rule is the
  * missing planner half: it recognizes a lake scan inside an arbitrary
  * plan (via the relation registry [[graft.sources.VersionedLake
  * .zoneInfoFor]] populates at read time, with a path-derived fallback
  * for registry misses), evaluates the filter's and/or TREE per file
  * ([[admits]] — `lang = 'en' OR lang = 'fr'` prunes too), drops every
  * file whose recorded interval, string envelope, or Bloom filter is
  * provably disjoint from the predicate, and re-plans the scan over
  * the surviving file list. The original Filter STAYS on top — zone
  * maps bound files, not rows — so the rewrite is semantics-preserving
  * by construction, exactly like [[graft.sources.VersionedLake
  * .readRange]] whose overlap rule it shares.
  *
  * Scope guards (a rule that fires wrongly is worse than no rule):
  * Filter DIRECTLY over a registered lake relation; testable leaves
  * are `attr {=, <, <=, >, >=} literal` over numeric/timestamp/date
  * columns, plus `=`, `<`/`>`-ranges, per-value IN-lists, and
  * `LIKE 'p%'` (StartsWith) over DEFAULT-collation string columns
  * (either operand order; strict bounds conservatively widened to
  * closed intervals; any OTHER node — Not, UDFs — is opaque and
  * admits everything, and leaves under it are never tested); files
  * without stats for a bounded column are KEPT;
  * the rewrite only happens when it strictly shrinks the CURRENT file
  * set (which also terminates the fixpoint: re-pruning a pruned scan
  * removes nothing). Timestamp and date literals fold through the
  * manifest's own encodings (epoch micros / epoch days — Catalyst
  * already stores them that way); TimestampNTZ does not (its stats
  * encoding is session-timezone-dependent), use `read_range` there.
  *
  * `spark.graft.zonemap.prune.enabled=false` switches the rule off.
  */
case class ZoneMapPrune(spark: SparkSession) extends Rule[LogicalPlan] {

  import ZoneMapPrune._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!spark.conf.getOption(EnabledKey).forall(_.toBoolean)) return plan
    plan.transformUp {
      case f @ Filter(cond, lr: LogicalRelation) =>
        graft.sources.VersionedLake.zoneInfoForScan(lr.relation, scanFiles(lr))
          .map(info => tryPrune(f, cond, lr, info._1, info._2))
          .getOrElse(f)
    }
  }

  private def scanFiles(lr: LogicalRelation): Seq[String] = lr.relation match {
    case hfs: HadoopFsRelation => hfs.location.inputFiles.toSeq
    case _ => Seq.empty
  }

  private def tryPrune(f: Filter, cond: Expression, lr: LogicalRelation,
      lakeDir: String, v: Int): LogicalPlan = {
    if (!usable(cond)) return f
    val current = lr.relation match {
      case hfs: HadoopFsRelation =>
        hfs.location.inputFiles
          .map(graft.sources.VersionedLake.normalizePath).toSet
      case _ => return f
    }
    // only entries this scan actually covers (it may already be
    // partition- or point-pruned); a bounded column no file records
    // stats for simply never prunes (conservative, like readRange's
    // per-file rule — but no loud refusal here: the user wrote a
    // filter, not a range read). A huge manifest's uncached first
    // parse is refused by manifestEntriesForPlanning — the rule
    // degrades to no pruning rather than stalling the optimizer.
    val entries = graft.sources.VersionedLake
      .manifestEntriesForPlanning(lakeDir, v)
      .getOrElse(return f)
      .filter(e => current.contains(
        graft.sources.VersionedLake.normalizePath(e.path)))
    val admissible = entries.filter(e => admits(e, cond))
    if (admissible.size >= entries.size || entries.size != current.size) return f
    val pruned = graft.sources.VersionedLake.readFiles(
      spark, lakeDir, v, admissible.map(_.path))
    val newPlan = pruned.queryExecution.analyzed
    val byName = newPlan.output.map(a => a.name -> a).toMap
    // the spliced scan must agree with the original on TYPE, not just
    // name: the path-fallback admits raw `parquet(<root>/data)` scans
    // whose partition-type INFERENCE can disagree with the lake's
    // recorded schema (an int-looking string partition), and aliasing
    // under the old exprId would bind downstream expressions to values
    // of the wrong runtime type. Nullability may only tighten.
    if (!lr.output.forall(o => byName.get(o.name).exists(n =>
      n.dataType == o.dataType && (o.nullable || !n.nullable)))) return f
    // re-expose the ORIGINAL attribute ids so every downstream
    // reference (including cond itself) keeps resolving
    val aliases = lr.output.map(o =>
      Alias(byName(o.name), o.name)(exprId = o.exprId))
    Filter(cond, Project(aliases, newPlan))
  }

  /** RECURSIVE admissibility of one file against the whole filter
    * tree: And = both branches must admit, Or = EITHER branch admits
    * (so `lang = 'en' OR lang = 'fr'` — and any and/or nesting —
    * prunes, where a conjunct-only extraction would give up), any
    * other node (Not, UDFs, subqueries…) is opaque and admits
    * everything. Soundness by induction: every leaf test is TRUE for
    * any file containing a row that satisfies the leaf, and And/Or
    * mirror the row-level connectives — so a file with a qualifying
    * row can never be dropped. Leaves under an opaque node are never
    * evaluated (a leaf inside NOT must not be tested positively). */
  private def admits(e: graft.sources.VersionedLake.Entry,
      cond: Expression): Boolean = cond match {
    case And(a, b) => admits(e, a) && admits(e, b)
    case Or(a, b) => admits(e, a) || admits(e, b)
    case leaf =>
      numericLeaf(leaf).forall { case (name, lo, hi) =>
        e.colStats.get(name) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None => true
        }
      } && strLeaf(leaf).forall { case (name, c) =>
        e.strStats.get(name) match {
          case Some((mn, mx)) => c match {
            case StrLo(s) => cmp(mx, s) >= 0
            case StrHi(s) => cmp(mn, s) <= 0
            case StrIn(vs) =>
              vs.exists(v => cmp(mn, v) <= 0 && cmp(mx, v) >= 0)
            // matches of `LIKE 'p%'` live in [p, prefixUpperBound(p)):
            // the file qualifies iff its envelope meets that range
            case StrPrefix(p) => cmp(mx, p) >= 0 &&
              graft.sources.VersionedLake.prefixUpperBound(p)
                .forall(u => cmp(mn, u) < 0)
          }
          case None => true // no string stats for this file: kept
        }
      } && pointLeaf(leaf).forall { case (name, keys) =>
        // the planner twin of readPoint: the file's Bloom for the
        // column, when recorded, must admit at least one probed key —
        // false negatives are impossible, so a definite miss skips the
        // file
        e.colBlooms.get(name).forall(fb => keys.exists(fb.mightContain))
      } && nullLeaf(leaf).forall { case (name, wantNull) =>
        // recorded per-file null counts decide null predicates exactly:
        // IS NULL needs at least one null; IS NOT NULL needs at least
        // one non-null. A column added after the file was written has
        // no count there (all its rows read as null): kept.
        if (wantNull) e.nullCounts.get(name).forall(_ > 0)
        else e.nullCounts.get(name).forall(_ < e.rows)
      }
  }

  /** Does the tree hold at least one leaf these stats can test?
    * (Leaves under opaque nodes — Not, UDFs — don't count: [[admits]]
    * will never reach them.) */
  private def usable(cond: Expression): Boolean = cond match {
    case And(a, b) => usable(a) || usable(b)
    case Or(a, b) => usable(a) || usable(b)
    case leaf => numericLeaf(leaf).nonEmpty || strLeaf(leaf).nonEmpty ||
      pointLeaf(leaf).nonEmpty || nullLeaf(leaf).nonEmpty
  }

  /** One comparison leaf as a closed numeric interval the column must
    * overlap. Literal encodings mirror [[graft.sources.VersionedLake]]'s
    * statsEncoding exactly: numerics as doubles, timestamps as epoch
    * MICROS (Catalyst already stores timestamp literals that way),
    * dates as epoch DAYS — so a `WHERE ts >= TIMESTAMP '...'` over a
    * time-keyed lake prunes files the same way a numeric range does.
    * Strict bounds widen to closed — conservative; numeric IN-lists
    * fold to their [min, max] envelope. */
  private def numericLeaf(leaf: Expression): Option[(String, Double, Double)] = {
    // Long/Decimal literals fold through Double deliberately: stats are
    // stored as doubles anyway, and IEEE round-to-nearest is MONOTONE —
    // a file's rounded max can never fall below a rounded bound its
    // true values meet, so the widened interval only ever KEEPS extra
    // files, never prunes a qualifying one. Any refactor that compares
    // unrounded longs against these rounded stats must re-prove that.
    def num(l: Literal): Option[Double] = (l.value, l.dataType) match {
      case (null, _) => None
      case (d: Decimal, _: DecimalType) => Some(d.toDouble)
      case (n: Number, _: NumericType) => Some(n.doubleValue())
      // Catalyst internal values: micros since epoch / days since epoch
      // — the very encodings the manifest records for these types
      // NOT TimestampNTZType: its stats encoding goes through a
      // session-timezone cast, so literal micros only match in UTC
      // sessions — folding it would prune wrongly elsewhere
      case (micros: java.lang.Long, TimestampType) => Some(micros.toDouble)
      case (days: java.lang.Integer, DateType) => Some(days.toDouble)
      case _ => None
    }
    leaf match {
      // lower bounds (strict widened to closed — conservative)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, v, Double.PositiveInfinity))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, v, Double.PositiveInfinity))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        num(l).map(v => (a.name, v, Double.PositiveInfinity))
      case LessThan(l: Literal, a: AttributeReference) =>
        num(l).map(v => (a.name, v, Double.PositiveInfinity))
      // upper bounds
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, Double.NegativeInfinity, v))
      case LessThan(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, Double.NegativeInfinity, v))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        num(l).map(v => (a.name, Double.NegativeInfinity, v))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        num(l).map(v => (a.name, Double.NegativeInfinity, v))
      // point predicates
      case EqualTo(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, v, v))
      case EqualTo(l: Literal, a: AttributeReference) =>
        num(l).map(v => (a.name, v, v))
      // IN-lists fold to their envelope [min, max] — lossy vs a
      // per-value membership test but sound, and often enough to drop
      // whole files when the list is clustered
      case In(a: AttributeReference, vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        val ds = vs.map(v => num(v.asInstanceOf[Literal]))
        if (ds.exists(_.isEmpty)) None
        else Some((a.name, ds.flatten.min, ds.flatten.max))
      case _ => None
    }
  }

  /** One STRING-column leaf, pruned against the manifest's truncated
    * string envelopes ([[graft.sources.VersionedLake.StrStatsLen]]-
    * codepoint min/max, max truncated UP so containment is provable).
    * All comparisons use UTF-8 byte order ([[cmp]]) — exactly the
    * binary order Spark's UTF8String min/max and predicates use; only
    * DEFAULT-collation string attributes qualify (a non-binary
    * collation orders differently than the recorded stats). Unlike
    * numeric IN-lists (which fold to their envelope), string IN-lists
    * test each value against the file's envelope — `lang IN
    * ('en','fr')` drops a file whose envelope contains neither, even
    * when the envelope overlaps the ['en','fr'] range. Strict </>
    * widen to closed bounds — conservative, like the numeric side. */
  private def strLeaf(leaf: Expression): Option[(String, StrCon)] = {
    def strLit(l: Literal): Option[String] = (l.value, l.dataType) match {
      case (u: org.apache.spark.unsafe.types.UTF8String, t)
          if t == StringType => Some(u.toString)
      case _ => None
    }
    def attr(a: AttributeReference): Boolean = a.dataType == StringType
    leaf match {
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) if attr(a) =>
        strLit(l).map(v => (a.name, StrLo(v)))
      case GreaterThan(a: AttributeReference, l: Literal) if attr(a) =>
        strLit(l).map(v => (a.name, StrLo(v)))
      case LessThanOrEqual(l: Literal, a: AttributeReference) if attr(a) =>
        strLit(l).map(v => (a.name, StrLo(v)))
      case LessThan(l: Literal, a: AttributeReference) if attr(a) =>
        strLit(l).map(v => (a.name, StrLo(v)))
      case LessThanOrEqual(a: AttributeReference, l: Literal) if attr(a) =>
        strLit(l).map(v => (a.name, StrHi(v)))
      case LessThan(a: AttributeReference, l: Literal) if attr(a) =>
        strLit(l).map(v => (a.name, StrHi(v)))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) if attr(a) =>
        strLit(l).map(v => (a.name, StrHi(v)))
      case GreaterThan(l: Literal, a: AttributeReference) if attr(a) =>
        strLit(l).map(v => (a.name, StrHi(v)))
      case EqualTo(a: AttributeReference, l: Literal) if attr(a) =>
        strLit(l).map(v => (a.name, StrIn(Seq(v))))
      case EqualTo(l: Literal, a: AttributeReference) if attr(a) =>
        strLit(l).map(v => (a.name, StrIn(Seq(v))))
      case In(a: AttributeReference, vs) if attr(a) && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        val ss = vs.map(v => strLit(v.asInstanceOf[Literal]))
        if (ss.exists(_.isEmpty)) None
        else Some((a.name, StrIn(ss.flatten)))
      // Catalyst rewrites `LIKE 'p%'` to StartsWith — the common
      // categorical-family filter (`source LIKE 'crawl-%'`)
      case StartsWith(a: AttributeReference, l: Literal) if attr(a) =>
        strLit(l).map(v => (a.name, StrPrefix(v)))
      case _ => None
    }
  }

  /** One point-equality leaf as BLOOM probes — the planner-automatic
    * twin of [[graft.sources.VersionedLake.readPoint]]: `attr = lit`
    * and per-value IN-lists, but ONLY for types whose literal
    * rendering is exactly the build-side `cast("string")` (strings,
    * integral numbers) — a formatting mismatch would produce phantom
    * misses, i.e. WRONG pruning, so floats/decimals/timestamps never
    * probe. Lists past [[MaxBloomProbeKeys]] skip the Bloom test
    * (plan-time driver work is |files| × |keys| digests); zone-map
    * envelopes still apply. */
  private def pointLeaf(leaf: Expression): Option[(String, Seq[String])] = {
    def key(l: Literal): Option[String] = (l.value, l.dataType) match {
      case (null, _) => None
      case (u: org.apache.spark.unsafe.types.UTF8String, t)
          if t == StringType => Some(u.toString)
      case (n: Number, ByteType | ShortType | IntegerType | LongType) =>
        Some(n.toString)
      case _ => None
    }
    leaf match {
      case EqualTo(a: AttributeReference, l: Literal) =>
        key(l).map(v => (a.name, Seq(v)))
      case EqualTo(l: Literal, a: AttributeReference) =>
        key(l).map(v => (a.name, Seq(v)))
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.length <= MaxBloomProbeKeys &&
            vs.forall(_.isInstanceOf[Literal]) =>
        val ks = vs.map(v => key(v.asInstanceOf[Literal]))
        if (ks.exists(_.isEmpty)) None else Some((a.name, ks.flatten))
      case _ => None
    }
  }

  /** IS [NOT] NULL leaves, decided from the recorded per-file null
    * counts (true = the predicate wants nulls). Catalyst injects
    * IsNotNull beside nearly every comparison, so an all-null file
    * drops from any equality query for free once counts are
    * recorded. */
  private def nullLeaf(leaf: Expression): Option[(String, Boolean)] =
    leaf match {
      case IsNull(a: AttributeReference) => Some((a.name, true))
      case IsNotNull(a: AttributeReference) => Some((a.name, false))
      case _ => None
    }

  private def cmp(a: String, b: String): Int =
    graft.sources.VersionedLake.utf8Compare(a, b)
}

object ZoneMapPrune {
  val EnabledKey = "spark.graft.zonemap.prune.enabled"

  /** Plan-time Bloom probing is |files| × |keys| MD5 digests on the
    * driver; past this many IN-list values the probe degenerates
    * toward keeping everything anyway (readPoints' maxKeys argument,
    * scaled to plan time). */
  val MaxBloomProbeKeys = 64

  /** One string-column constraint: a lower bound, an upper bound, or a
    * per-value IN-set (equality is a one-value set). */
  private sealed trait StrCon
  private final case class StrLo(v: String) extends StrCon
  private final case class StrHi(v: String) extends StrCon
  private final case class StrIn(vs: Seq[String]) extends StrCon
  private final case class StrPrefix(v: String) extends StrCon
}
