package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._

import graft.sources.VersionedLake
import graft.sources.VersionedLake.FileTest

/** Optimizer rule that turns range predicates over a versioned-lake
  * scan into MANIFEST-LEVEL file skipping — automatically, so the
  * natural SQL
  *
  *   SELECT * FROM time_travel('<lake>', v) WHERE x BETWEEN lo AND hi
  *
  * reads only the files whose recorded zone map overlaps [lo, hi],
  * without opting in through the `read_range` TVF — and point
  * predicates additionally probe the per-file BLOOM filters
  * ([[pointLeaf]]), so `WHERE key = 42` over a Bloom-indexed
  * lake is the automatic twin of `read_point`. The lake already
  * records per-file per-column min/max at every commit
  * ([[graft.sources.VersionedLake]]'s colStats); this rule is the
  * missing planner half: it recognizes a lake scan inside an arbitrary
  * plan ([[graft.sources.VersionedLake.lakeScan]]), translates the
  * filter's and/or TREE once into a [[FileTest]] (`lang = 'en' OR
  * lang = 'fr'` prunes too), drops every file that
  * [[graft.sources.VersionedLake.admits]] rejects — its recorded
  * interval, string envelope, Bloom filter or null count is provably
  * disjoint from the predicate — and re-plans the scan over the
  * surviving file list. The original Filter STAYS on top — zone maps
  * bound files, not rows — so the rewrite is semantics-preserving by
  * construction, exactly like [[graft.sources.VersionedLake.readRange]]
  * whose admission test it shares.
  *
  * Scope guards (a rule that fires wrongly is worse than no rule):
  * Filter DIRECTLY over a lake relation; testable leaves
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
  */
case class ZoneMapPrune(spark: SparkSession) extends Rule[LogicalPlan] {

  import ZoneMapPrune._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, lr: LogicalRelation) =>
      // the scan is recognized only for a filter with a testable leaf:
      // this rule runs on every optimizer iteration over every Filter
      lazy val scan = VersionedLake.lakeScan(lr)
      fileTest(cond, scan.fold(Seq.empty[VersionedLake.Entry])(_._3)) match {
        case FileTest.Opaque => f
        case test => scan.map { case (lakeDir, v, entries) =>
          tryPrune(f, cond, lr, lakeDir, v, entries, test)
        }.getOrElse(f)
      }
  }

  private def tryPrune(f: Filter, cond: Expression, lr: LogicalRelation,
      lakeDir: String, v: Int, entries: Seq[VersionedLake.Entry],
      test: FileTest): LogicalPlan = {
    // a bounded column no file records metadata for simply never
    // prunes (no loud refusal here: the user wrote a filter, not a
    // range read)
    val admissible = entries.filter(VersionedLake.admits(_, test))
    if (admissible.size >= entries.size) return f
    val pruned = VersionedLake.readFiles(spark, lakeDir, v, admissible.map(_.path))
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

  /** The filter as one [[FileTest]]: And/Or mirror the row-level
    * connectives (so any and/or nesting prunes, where a conjunct-only
    * extraction would give up), a leaf is the conjunction of every
    * test it supports, and any other node (Not, UDFs, subqueries…) is
    * [[FileTest.Opaque]] — leaves under it are never tested (a leaf
    * inside NOT must not be tested positively). Soundness by
    * induction: every leaf test admits any file holding a row that
    * satisfies the leaf. An Opaque branch drops out of an And and
    * swallows an Or, so a filter no metadata can decide is Opaque.
    * Bloom keys are digested here, once per filter, not once per
    * file; only a point leaf reads `entries`. */
  private def fileTest(cond: Expression, entries: => Seq[VersionedLake.Entry]): FileTest =
    cond match {
      case And(a, b) => (fileTest(a, entries), fileTest(b, entries)) match {
        case (FileTest.Opaque, t) => t
        case (t, FileTest.Opaque) => t
        case (ta, tb) => FileTest.And(ta, tb)
      }
      case Or(a, b) => (fileTest(a, entries), fileTest(b, entries)) match {
        case (FileTest.Opaque, _) | (_, FileTest.Opaque) => FileTest.Opaque
        case (ta, tb) => FileTest.Or(ta, tb)
      }
      case leaf =>
        (numericLeaf(leaf) ++ strLeaf(leaf) ++
          pointLeaf(leaf).map { case (c, keys) =>
            VersionedLake.bloomTest(c, keys, entries)
          } ++ nullLeaf(leaf))
          .reduceOption[FileTest](FileTest.And(_, _)).getOrElse(FileTest.Opaque)
    }

  /** A comparison of a column with a literal, either operand order, as
    * (column, literal, the literal bounds the column from below, from
    * above) — equality bounds both sides. Strict bounds widen to
    * closed: conservative. */
  private def comparison(leaf: Expression)
      : Option[(AttributeReference, Literal, Boolean, Boolean)] = leaf match {
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) => Some((a, l, true, false))
    case GreaterThan(a: AttributeReference, l: Literal) => Some((a, l, true, false))
    case LessThanOrEqual(l: Literal, a: AttributeReference) => Some((a, l, true, false))
    case LessThan(l: Literal, a: AttributeReference) => Some((a, l, true, false))
    case LessThanOrEqual(a: AttributeReference, l: Literal) => Some((a, l, false, true))
    case LessThan(a: AttributeReference, l: Literal) => Some((a, l, false, true))
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) => Some((a, l, false, true))
    case GreaterThan(l: Literal, a: AttributeReference) => Some((a, l, false, true))
    case EqualTo(a: AttributeReference, l: Literal) => Some((a, l, true, true))
    case EqualTo(l: Literal, a: AttributeReference) => Some((a, l, true, true))
    case _ => None
  }

  /** A non-empty all-literal IN-list, its values read by `value`; None
    * when any value is unreadable. */
  private def inList[A](leaf: Expression)(value: Literal => Option[A])
      : Option[(AttributeReference, Seq[A])] = leaf match {
    case In(a: AttributeReference, vs) if vs.nonEmpty &&
        vs.forall(_.isInstanceOf[Literal]) =>
      val read = vs.map(v => value(v.asInstanceOf[Literal]))
      if (read.exists(_.isEmpty)) None else Some((a, read.flatten))
    case _ => None
  }

  /** One comparison leaf as a closed numeric interval the column must
    * overlap. Literal encodings mirror [[graft.sources.VersionedLake]]'s
    * statsEncoding exactly: numerics as doubles, timestamps as epoch
    * MICROS (Catalyst already stores timestamp literals that way),
    * dates as epoch DAYS — so a `WHERE ts >= TIMESTAMP '...'` over a
    * time-keyed lake prunes files the same way a numeric range does.
    * Numeric IN-lists fold to their [min, max] envelope — lossy vs a
    * per-value membership test but sound, and often enough to drop
    * whole files when the list is clustered. */
  private def numericLeaf(leaf: Expression): Option[FileTest] = {
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
    comparison(leaf).flatMap { case (a, l, lower, upper) =>
      num(l).map(v => FileTest.NumRange(a.name,
        if (lower) v else Double.NegativeInfinity,
        if (upper) v else Double.PositiveInfinity))
    }.orElse(inList(leaf)(num).map { case (a, ds) =>
      FileTest.NumRange(a.name, ds.min, ds.max)
    })
  }

  /** One STRING-column leaf, pruned against the manifest's truncated
    * string envelopes ([[graft.sources.VersionedLake.StrStatsLen]]-
    * codepoint min/max, max truncated UP so containment is provable),
    * compared in UTF-8 byte order — exactly the binary order Spark's
    * UTF8String min/max and predicates use; only DEFAULT-collation
    * string attributes qualify (a non-binary collation orders
    * differently than the recorded stats). Unlike numeric IN-lists
    * (which fold to their envelope), string IN-lists test each value
    * against the file's envelope — `lang IN ('en','fr')` drops a file
    * whose envelope contains neither, even when the envelope overlaps
    * the ['en','fr'] range. Catalyst rewrites `LIKE 'p%'` to
    * StartsWith — the common categorical-family filter
    * (`source LIKE 'crawl-%'`). */
  private def strLeaf(leaf: Expression): Option[FileTest] = {
    def strLit(l: Literal): Option[String] = (l.value, l.dataType) match {
      case (u: org.apache.spark.unsafe.types.UTF8String, t)
          if t == StringType => Some(u.toString)
      case _ => None
    }
    def attr(a: AttributeReference): Boolean = a.dataType == StringType
    leaf match {
      case StartsWith(a: AttributeReference, l: Literal) if attr(a) =>
        strLit(l).map(FileTest.StrPrefix(a.name, _))
      case _ =>
        comparison(leaf).filter(c => attr(c._1)).flatMap { case (a, l, lower, upper) =>
          strLit(l).map(v => FileTest.StrRange(a.name,
            Some(v).filter(_ => lower), Some(v).filter(_ => upper)))
        }.orElse(inList(leaf)(strLit).filter(c => attr(c._1)).map { case (a, vs) =>
          FileTest.StrIn(a.name, vs)
        })
    }
  }

  /** One point-equality leaf as BLOOM probes — the planner-automatic
    * twin of [[graft.sources.VersionedLake.readPoint]]: `attr = lit`
    * and per-value IN-lists, but ONLY for types whose literal
    * rendering is exactly the build-side `cast("string")` (strings,
    * integral numbers) — a formatting mismatch would produce phantom
    * misses, i.e. WRONG pruning, so floats/decimals/timestamps never
    * probe. Lists past [[MaxBloomProbeKeys]] skip the Bloom test;
    * zone-map envelopes still apply. */
  private def pointLeaf(leaf: Expression): Option[(String, Seq[String])] = {
    def key(l: Literal): Option[String] = (l.value, l.dataType) match {
      case (null, _) => None
      case (u: org.apache.spark.unsafe.types.UTF8String, t)
          if t == StringType => Some(u.toString)
      case (n: Number, ByteType | ShortType | IntegerType | LongType) =>
        Some(n.toString)
      case _ => None
    }
    comparison(leaf).collect { case (a, l, true, true) => (a, l) }
      .flatMap { case (a, l) => key(l).map(v => (a.name, Seq(v))) }
      .orElse(inList(leaf)(key).collect {
        case (a, ks) if ks.length <= MaxBloomProbeKeys => (a.name, ks)
      })
  }

  /** IS [NOT] NULL leaves, decided from the recorded per-file null
    * counts. Catalyst injects IsNotNull beside nearly every
    * comparison, so an all-null file drops from any equality query for
    * free once counts are recorded. */
  private def nullLeaf(leaf: Expression): Option[FileTest] = leaf match {
    case IsNull(a: AttributeReference) => Some(FileTest.Nulls(a.name, wantNull = true))
    case IsNotNull(a: AttributeReference) => Some(FileTest.Nulls(a.name, wantNull = false))
    case _ => None
  }
}

object ZoneMapPrune {
  /** Plan-time Bloom probing digests every IN-list value on the
    * driver; past this many values the probe degenerates toward
    * keeping everything anyway (readPoints' maxKeys argument, scaled
    * to plan time). */
  val MaxBloomProbeKeys = 64
}
