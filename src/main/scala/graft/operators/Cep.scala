package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.math.BigDecimal.RoundingMode

/** C1 — the reference's MATCH_RECOGNIZE ERROR-sandwich pattern
  * (kinesis-studio-notebook/notebook.txt:47-68), batch formulations.
  *
  * Pattern, per key ordered by time: A B{1,5} C WITHIN `within`,
  * AFTER MATCH SKIP PAST LAST ROW, where A/C: status == errorValue and
  * B: status != errorValue. Measures as notebook.txt:54-61: A's event
  * time, COUNT(*)-2 non_errors, '-'-joined B statuses (≤5), MIN/AVG/MAX
  * temperature over the whole match, elapsed seconds C-A.
  *
  * Two formulations of the same semantics:
  *  - [[matchesPattern]], the generic `A B{minB,maxB} C` operator, is
  *    one sorted pass: the A/B/C predicates are evaluated in a
  *    projection, one hash shuffle by key and one sort by
  *    (key, time, id) bring each key's rows together in order, and one
  *    `mapPartitions` ([[KeyedWalk]]) walks them through [[Machine]] —
  *    the per-event transition the streaming operator (CepStream) runs
  *    live. One matcher, two callers. Per-key memory is one partial match
  *    (≤ maxB buffered B rows): the sort spills, the iterator streams,
  *    and no key's rows are ever collected.
  *  - [[matchesBatch]], the fixed ERROR sandwich, is window functions
  *    only (epochs and gaps-and-islands parity, see its doc). It shares
  *    no code with the machine and stays the independent formulation
  *    the machine is checked against (CepSpec, the benchmark's live
  *    CEP check).
  *
  * Input rule, all forms (streaming too): a NULL in the value or the
  * time column is refused with an error naming the column. A NULL
  * status is allowed: it is a B row for the ERROR sandwich and is left
  * out of `history`.
  */
object Cep {

  final case class Params(
      key: String,
      time: String,
      value: String,
      status: String,
      id: String,
      errorValue: String = "error",
      maxB: Int = 5,
      withinMicros: Long = 259200000000L) // 72 h — scaled analog of WITHIN '1' MINUTES

  /** Generic `A B{minB,maxB} C WITHIN within` pattern: the reference's
    * ERROR-sandwich (A = C = status==error, B = the complement,
    * {1,5}) becomes one instance — see [[matchesPattern]] for the
    * semantics and the one classification rule that makes matching a
    * single left-to-right pass.
    *
    * Predicates are Columns over the INPUT DataFrame's columns (e.g.
    * `col("event_type") === "signup"`), evaluated once per row before
    * the operator's internal renames.
    */
  final case class PatternSpec(
      a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column,
      c: org.apache.spark.sql.Column,
      minB: Int = 1,
      maxB: Int = 5,
      withinMicros: Long = 259200000000L) {
    require(minB >= 0, s"minB must be >= 0, got $minB")
    require(maxB >= minB, s"maxB ($maxB) must be >= minB ($minB)")
    require(withinMicros > 0, s"withinMicros must be positive, got $withinMicros")
  }

  /** The reference pattern as a [[PatternSpec]] instance. `b` uses
    * null-safe negation so a NULL status classifies as B — matching
    * [[matchesBatch]] (whose epoch counter treats NULL `_err` as 0):
    * the formulations agree on null-status rows. */
  def errorSandwichSpec(p: Params): PatternSpec = PatternSpec(
    a = col(p.status).cast("string") === lit(p.errorValue),
    b = !(col(p.status).cast("string") <=> lit(p.errorValue)),
    c = col(p.status).cast("string") === lit(p.errorValue),
    minB = 1, maxB = p.maxB, withinMicros = p.withinMicros)

  /** The value as the double every form computes with, refused if NULL. */
  private[graft] def valueCol(p: Params): Column =
    KeyedWalk.nonNull(col(p.value).cast("double"), p.value, "CEP")

  /** The time column as given, refused if NULL. */
  private[graft] def timeCol(p: Params): Column = KeyedWalk.nonNull(col(p.time), p.time, "CEP")

  /** Decimal(18,2) half-up of a double — Spark's cast (via
    * `Double.toString`), so the machine's sums equal the window form's. */
  private[graft] def d2(v: Double): BigDecimal =
    BigDecimal(v).setScale(2, RoundingMode.HALF_UP)

  /** A key's partial match: the pending A plus its buffered B run,
    * newest first, at most maxB entries. A's instant is kept in
    * microseconds (Timestamp.getTime is millis-only; elapsed and WITHIN
    * must be micros-exact).
    *
    * CHECKPOINT COMPATIBILITY: this class IS the streaming operator's
    * `flatMapGroupsWithState` state encoder schema (CepStream).
    * Changing its fields (as the `aStatus` addition did when measures
    * became generic) breaks resume from a checkpoint written by the
    * previous shape — Spark fails state-schema compatibility rather than
    * misdecoding. Contract: a CEP query restarted across such a change
    * must start from a FRESH checkpoint (partial matches in flight at
    * the switch are lost; completed matches already emitted are
    * unaffected). If live rolling upgrades ever matter, version the
    * state instead: keep the old case class, read old-state rows through
    * a migration default for the missing field. Methods are free to
    * change: only the constructor fields are encoded.
    */
  final case class PartialMatch(
      aTimeMicros: Long,
      aValue: Double,
      aStatus: String,
      bStatuses: List[String],
      bValues: List[Double]) {
    def bMin: Option[Double] = bValues.reduceOption((a, b) => math.min(a, b))
    def bMax: Option[Double] = bValues.reduceOption((a, b) => math.max(a, b))
    /** Exact sum of the B values, each as [[d2]]; None for an empty run. */
    def bSum: Option[BigDecimal] =
      if (bValues.isEmpty) None else Some(bValues.map(d2).foldLeft(BigDecimal(0).setScale(2))(_ + _))
    /** B statuses in event order; a null status was never buffered. */
    def bHistory: List[String] = bStatuses.reverse
  }

  /** The per-key pattern machine: the one transition both CEP operators
    * run — the sorted batch pass of [[matchesPattern]] and CepStream's
    * `flatMapGroupsWithState` — for one event of one key, events taken
    * in (time, id) order. Pure: the next state is returned, and a match
    * completed by this event is handed to `matched` (with the state it
    * completes) before the state clears.
    *  - B row (isB wins over isA/isC) with a pending A → buffered;
    *    overflow (> maxB) kills the pending match: A pairs with no later
    *    boundary. Without a pending A → ignored.
    *  - boundary row completing a candidate (pending A, isC, B count in
    *    [minB,maxB], C-A within the bound) → match; state cleared
    *    (SKIP PAST LAST ROW: the consumed C starts nothing).
    *  - any other boundary → becomes the new pending A iff isA, else
    *    clears the state (a failed consecutive-boundary pair leaves A
    *    unmatchable forever).
    * So a boundary row's next state, if any, is the A that row starts.
    */
  final case class Machine(minB: Int, maxB: Int, withinMicros: Long) {
    def step(st: Option[PartialMatch], t: Long, v: Double, s: String,
        isA: Boolean, isB: Boolean, isC: Boolean)(
        matched: PartialMatch => Unit): Option[PartialMatch] =
      if (isB) st match {
        case Some(pm) if pm.bValues.size >= maxB => None // B{minB,maxB} overflow
        case Some(pm) => Some(pm.copy(
          // collect_list (the window form's history) skips a null
          // status; the value still counts toward every other measure
          bStatuses = if (s == null) pm.bStatuses else s :: pm.bStatuses,
          bValues = v :: pm.bValues))
        case None => None // B row outside any pending match
      } else st match {
        case Some(pm) if isC && pm.bValues.size >= minB &&
            t - pm.aTimeMicros <= withinMicros =>
          matched(pm)
          None // SKIP PAST LAST ROW
        case _ => if (isA) Some(PartialMatch(t, v, s, Nil, Nil)) else None
      }
  }

  /** Window formulation of the fixed ERROR sandwich — no joins, no
    * per-key iteration, shares no code with [[Machine]]:
    *  1. rn: row_number per key (time, id tiebreak); epoch: running count
    *     of error rows — every row belongs to the epoch of the error
    *     preceding it, so an error row is the FIRST row of its epoch and
    *     the B candidates of a match are exactly the non-error rows of
    *     the A row's epoch.
    *  2. Per-epoch window aggregates give B min/max/sum (sum as DECIMAL —
    *     exact, order-independent) and the ≤5 following statuses
    *     (collect_list over a [1,5]-following frame) for `history`.
    *  3. On error rows only: lead() supplies the consecutive error (the
    *     candidate C). Candidate ⇔ 1 ≤ gap ≤ maxB rows and C-A within
    *     the time bound. Since B rows must be non-errors, A and C are
    *     necessarily consecutive errors — candidates never interleave.
    *  4. AFTER MATCH SKIP PAST LAST ROW: a matched C cannot start the
    *     next match. Within a maximal run of consecutive candidate
    *     pairs the greedy matcher takes positions 1,3,5,… — the classic
    *     gaps-and-islands parity, computed with two row_numbers.
    * Window functions over (key)- and (key, epoch)-hash partitions: two
    * shuffles. It is the c1 gate, and the parity reference for
    * [[matchesPattern]] and the streaming operator.
    */
  def matchesBatch(df: DataFrame, p: Params): DataFrame = {
    val wOrd = Window.partitionBy(col("_k")).orderBy(col("_t"), col("_id"))
    val base = df.select(
      col(p.key).as("_k"),
      timeCol(p).as("_t"),
      valueCol(p).as("_v"),
      col(p.status).cast("string").as("_s"),
      col(p.id).as("_id"))
      // null-safe: a NULL status is a B row in full (epoch counter,
      // B min/max/sum) — keeps matchesBatch ≡ matchesPattern(
      // errorSandwichSpec) ≡ the streaming machine on null statuses
      .withColumn("_err", col("_s") <=> lit(p.errorValue))
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_epoch", sum(when(col("_err"), 1).otherwise(0))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    val wEpoch = Window.partitionBy(col("_k"), col("_epoch"))
    val wEpochSeq = wEpoch.orderBy(col("_rn")).rowsBetween(1, p.maxB)
    val bNonErr = when(!col("_err"), col("_v"))
    val stats = base
      .withColumn("_b_min", min(bNonErr).over(wEpoch))
      .withColumn("_b_max", max(bNonErr).over(wEpoch))
      .withColumn("_b_sum", sum(when(!col("_err"), col("_v").cast("decimal(18,2)"))).over(wEpoch))
      .withColumn("_b_hist", collect_list(col("_s")).over(wEpochSeq))

    val wErr = Window.partitionBy(col("_k")).orderBy(col("_rn"))
    val errs = stats.filter(col("_err"))
      .withColumn("_c_rn", lead(col("_rn"), 1).over(wErr))
      .withColumn("_c_t", lead(col("_t"), 1).over(wErr))
      .withColumn("_c_v", lead(col("_v"), 1).over(wErr))

    val cands = errs.filter(
      col("_c_rn").isNotNull &&
        (col("_c_rn") - col("_rn") - 1).between(1, p.maxB) &&
        (unix_micros(col("_c_t")) - unix_micros(col("_t"))) <= p.withinMicros)
      .withColumn("_grp", col("_epoch") - row_number().over(wErr))

    val matches = cands
      .withColumn("_pos", row_number().over(
        Window.partitionBy(col("_k"), col("_grp")).orderBy(col("_epoch"))))
      .filter(col("_pos") % 2 === 1)

    val total = col("_c_rn") - col("_rn") + 1
    val avgNum = (col("_v").cast("decimal(18,2)") + col("_c_v").cast("decimal(18,2)") + col("_b_sum"))
    matches.select(
      col("_k").as("sensor_id"),
      col("_t").as("event_time"),
      (col("_c_rn") - col("_rn") - 1).cast("long").as("non_errors"),
      array_join(col("_b_hist"), "-").as("history"),
      least(col("_v"), col("_c_v"), col("_b_min")).as("min_temperature"),
      (floor((avgNum.cast("double") / total) * 100 + lit(0.5)) / 100.0).as("avg_temperature"),
      greatest(col("_v"), col("_c_v"), col("_b_max")).as("max_temperature"),
      floor((unix_micros(col("_c_t")) - unix_micros(col("_t"))) / 1000000.0 + lit(0.5))
        .cast("long").as("elapsed"))
  }

  /** The match-level quantities a measures clause can draw on — the
    * MATCH_RECOGNIZE MEASURES vocabulary for this pattern shape, as
    * Columns over the resolved match row. `bMin`/`bMax`/`bSum` are
    * null for an empty B run; `bSum` is the exact decimal sum of the B
    * values, each cast to DECIMAL(18,2) half-up; `avgValue` is the
    * exact decimal mean over A+B+C rounded half-up to 2 dp;
    * `elapsedSeconds` is C−A rounded to whole seconds. */
  final case class MatchMeasures(
      key: Column,
      aTime: Column, aValue: Column, aStatus: Column,
      cTime: Column, cValue: Column, cStatus: Column,
      bCount: Column, bMin: Column, bMax: Column, bSum: Column,
      bHistory: Column,
      totalRows: Column,
      minValue: Column, maxValue: Column, avgValue: Column,
      elapsedSeconds: Column)

  /** The reference notebook's measure list (notebook.txt:54-61) —
    * [[matchesPattern]]'s output when no measures are given, and the
    * schema [[matchesBatch]] pins. */
  def defaultMeasures(m: MatchMeasures): Seq[Column] = Seq(
    m.key.as("sensor_id"),
    m.aTime.as("event_time"),
    m.bCount.cast("long").as("non_errors"),
    // an empty B run (minB=0) joins to the empty string
    array_join(m.bHistory, "-").as("history"),
    m.minValue.as("min_temperature"),
    m.avgValue.as("avg_temperature"),
    m.maxValue.as("max_temperature"),
    m.elapsedSeconds.as("elapsed"))

  /** Generic `A B{minB,maxB} C WITHIN within`, AFTER MATCH SKIP PAST
    * LAST ROW, as one sorted pass through [[Machine]].
    *
    * Semantics (row classification first, then matching):
    *  - A row satisfying `spec.b` is a B row; any other row is a
    *    BOUNDARY. Matches start only at boundary rows satisfying
    *    `spec.a` and end at boundary rows satisfying `spec.c`. This
    *    resolves an a∧b or c∧b overlap deterministically (B wins) —
    *    the one restriction vs full backtracking-regex semantics, and
    *    what makes one left-to-right pass exact: rows strictly between
    *    consecutive boundaries are all B by construction, so EVERY
    *    candidate match is a consecutive-boundary pair and two
    *    candidates can overlap only by sharing an endpoint (C of one =
    *    A of the next). The greedy machine (emit and consume C; a
    *    consumed C starts nothing) therefore takes the same matches as
    *    [[matchesBatch]]'s gaps-and-islands parity.
    *  - Rows matching no variable are boundaries that satisfy neither
    *    `a` nor `c`: they break B runs and start nothing — the
    *    MATCH_RECOGNIZE treatment of unmatched rows.
    *  - A NULL predicate is false; a key keeps its own type.
    *
    * Plan: projection (predicates, codegen'd) → one hash exchange on the
    * key → sort by (key, time, id) → one `mapPartitions` pass → the
    * measures projection. No window, no join, no second shuffle.
    *
    * Generalizations over [[matchesBatch]]: A and C predicates may
    * differ, minB may be 0 (A directly followed by C), and the
    * boundary alphabet may be wider than {A, C}. The fixed form equals
    * `matchesPattern(df, p, errorSandwichSpec(p))` — CepSpec asserts
    * it property-style; the output schema (names and types) is
    * identical, so the two are drop-in interchangeable.
    */
  def matchesPattern(df: DataFrame, p: Params, spec: PatternSpec): DataFrame =
    matchesPattern(df, p, spec, defaultMeasures)

  /** [[matchesPattern]] with a caller-supplied measures clause: the
    * output schema is whatever `measures` names over the
    * [[MatchMeasures]] vocabulary, so non-sensor domains (funnels,
    * order flows) get domain-named outputs instead of the notebook's
    * sensor_id/temperature schema. */
  def matchesPattern(df: DataFrame, p: Params, spec: PatternSpec,
      measures: MatchMeasures => Seq[Column]): DataFrame = {
    val t = timeCol(p)
    val base = df.select(
      col(p.key).as("_k"),
      t.as("_t"),
      unix_micros(t).as("_tu"),
      valueCol(p).as("_v"),
      col(p.status).cast("string").as("_s"),
      col(p.id).as("_id"),
      coalesce(spec.a, lit(false)).as("_isA"),
      coalesce(spec.b, lit(false)).as("_isB"),
      coalesce(spec.c, lit(false)).as("_isC"))
    // copy the scalars out of the spec: its Columns are not serializable
    val machine = Machine(spec.minB, spec.maxB, spec.withinMicros)
    val matched = KeyedWalk(base, "_k", Seq(col("_tu"), col("_id")),
      matchSchema(base.schema))(walker(machine))

    val total = col("_b_n") + 2
    val avgNum = col("_a_v").cast("decimal(18,2)") + col("_c_v").cast("decimal(18,2)") +
      coalesce(col("_b_sum"), lit(0).cast("decimal(18,2)"))
    val m = MatchMeasures(
      key = col("_k"),
      aTime = col("_a_t"), aValue = col("_a_v"), aStatus = col("_a_s"),
      cTime = col("_c_t"), cValue = col("_c_v"), cStatus = col("_c_s"),
      bCount = col("_b_n"), bMin = col("_b_min"), bMax = col("_b_max"),
      bSum = col("_b_sum"), bHistory = col("_b_hist"),
      totalRows = total,
      minValue = least(col("_a_v"), col("_c_v"), col("_b_min")),
      maxValue = greatest(col("_a_v"), col("_c_v"), col("_b_max")),
      avgValue = floor((avgNum.cast("double") / total) * 100 + lit(0.5)) / 100.0,
      elapsedSeconds = floor((col("_c_tu") - col("_a_tu")) / 1000000.0 + lit(0.5))
        .cast("long"))
    matched.select(measures(m): _*)
  }

  /** One row per match: the key and time as `input` types them, A and
    * C, and the B-run summary. Types and nullability are the ones the
    * window formulation's row_number/sum/collect_list produce, so every
    * measure has the same schema in both. */
  private def matchSchema(input: StructType): StructType = {
    val time = input("_t").dataType
    StructType(input("_k") +: Seq(
      "_a_t" -> time, "_a_tu" -> LongType, "_a_v" -> DoubleType, "_a_s" -> StringType,
      "_c_t" -> time, "_c_tu" -> LongType, "_c_v" -> DoubleType, "_c_s" -> StringType,
      "_b_n" -> IntegerType, "_b_min" -> DoubleType, "_b_max" -> DoubleType,
      "_b_sum" -> DecimalType(28, 2)
    ).map { case (n, t) => StructField(n, t) } :+
      StructField("_b_hist", ArrayType(StringType, containsNull = false), nullable = false))
  }

  /** The batch side of [[Machine]]: one key's walk over rows sorted by
    * (time, id) — the columns of [[matchesPattern]]'s `base` — yielding
    * a [[matchSchema]] row per match. Holds the key's partial match. */
  private def walker(machine: Machine)(k: Any, emit: Row => Unit): KeyedWalk.Walker =
    new KeyedWalk.Walker {
      private var st: Option[PartialMatch] = None
      private var aTime: Any = null // the pending A's own time value

      def row(r: Row): Unit = {
        val tu = r.getLong(2)
        val v = r.getDouble(3)
        val s = r.getString(4)
        val isB = r.getBoolean(7)
        st = machine.step(st, tu, v, s, r.getBoolean(6), isB, r.getBoolean(8)) { pm =>
          emit(Row(k, aTime, pm.aTimeMicros, pm.aValue, pm.aStatus,
            r.get(1), tu, v, s,
            pm.bValues.size, pm.bMin.getOrElse(null), pm.bMax.getOrElse(null),
            pm.bSum.map(_.bigDecimal).orNull, pm.bHistory))
        }
        if (!isB && st.isDefined) aTime = r.get(1)
      }
    }
}
