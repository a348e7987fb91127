package graft.functions

import org.apache.spark.sql.{Encoder, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.{udaf, udf}
import org.apache.spark.sql.internal.SQLConf

import graft.operators.TimeSeries

import java.sql.Timestamp
import scala.math.Ordering.Implicits._

/** SURVEY §7 Phase 3 — the Timestream SQL dialect registered as session
  * functions, so the reference's queries (timestream-queries/
  * queries.txt:2-19) run as SQL TEXT against this engine:
  *
  *   CREATE_TIME_SERIES(time, value)      → UDAF: sorted array<struct>
  *   CREATE_TIME_SERIES_STR(time, status) → string-valued series
  *   INTERPOLATE_LINEAR(series, grid)     → UDF over sorted arrays
  *   INTERPOLATE_LOCF(series, grid)       → last-observation carry
  *   BIN(time, seconds)                   → fixed-width bucket truncate
  *   AGO('15m' | '7d' | …) / TS_NOW()     → relative time, frozen-clock
  *
  * Linear interpolation calls the same formula as the grid walk of
  * operators/TimeSeries.interpolateOnGrid (`TimeSeries.linearAt`: edge
  * rules, micros integer deltas, one op order; ties broken by value),
  * so the SQL-text flagship hash-matches the DataFrame one —
  * q_sql_flagship shares t9's DuckDB oracle.
  * One documented divergence: at duplicate (key, time) observations the
  * string-series LOCF breaks the tie by STATUS string here (each series
  * is built independently) while the grid walk breaks it by
  * temperature (both columns ride one row there); identical whenever
  * (key, time) is unique — which the fixtures and any sane sensor feed
  * guarantee.
  * The array form is the API-fidelity path (a sensor's history becomes
  * one array row); the grid walk is the scale path (TimeSeries' design
  * note).
  *
  * AGO resolves against the frozen clock in the session conf
  * [[ClockKey]] when set — queries in the correctness gate must be
  * deterministic; production sessions leave it unset for the wall clock.
  */
object Dialect {

  final case class TV(time: Timestamp, value: Double)
  final case class SV(time: Timestamp, value: String)

  private def us(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Observations must be (time, value)-sorted for the two-pointer
    * merge. Series built by create_time_series always are; a hand-built
    * SQL array may not be — detect in O(n) (free for the composed path)
    * and sort defensively, matching the aggregator's sort order, so a
    * raw-SQL caller gets correct interpolation instead of silent
    * garbage. */
  private def ensureSorted[T](obs: IndexedSeq[(Long, T)])(
      implicit ord: Ordering[(Long, T)]): IndexedSeq[(Long, T)] = {
    var i = 1
    while (i < obs.length && ord.lteq(obs(i - 1), obs(i))) i += 1
    if (i >= obs.length) obs else obs.sorted
  }

  private def checkSeriesSize(n: Int, cap: Int): Unit =
    if (n > cap) throw new IllegalStateException(
      s"create_time_series: a single series exceeds $cap elements. The array form holds " +
        "one key's whole history in one row — for histories this large use the grid-walk " +
        "operators (graft.operators.TimeSeries).")

  /** Sorted-series UDAF: the merge is list concatenation and the sort
    * happens once in finish, so partial aggregation order (cluster
    * nondeterminism) cannot leak into the result. `cap` fails fast
    * (clear error instead of a silent executor OOM downstream) when one
    * key's series exceeds the configured element count. */
  private class SeriesAgg(cap: Int) extends Aggregator[(Timestamp, Double), List[(Timestamp, Double)], Seq[TV]] {
    def zero: List[(Timestamp, Double)] = Nil
    def reduce(b: List[(Timestamp, Double)], a: (Timestamp, Double)): List[(Timestamp, Double)] = a :: b
    def merge(a: List[(Timestamp, Double)], b: List[(Timestamp, Double)]): List[(Timestamp, Double)] = a ::: b
    def finish(b: List[(Timestamp, Double)]): Seq[TV] = {
      checkSeriesSize(b.size, cap)
      b.sortBy { case (t, v) => (us(t), v) }.map { case (t, v) => TV(t, v) }
    }
    def bufferEncoder: Encoder[List[(Timestamp, Double)]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[TV]] = ExpressionEncoder()
  }

  private class SeriesStrAgg(cap: Int) extends Aggregator[(Timestamp, String), List[(Timestamp, String)], Seq[SV]] {
    def zero: List[(Timestamp, String)] = Nil
    def reduce(b: List[(Timestamp, String)], a: (Timestamp, String)): List[(Timestamp, String)] = a :: b
    def merge(a: List[(Timestamp, String)], b: List[(Timestamp, String)]): List[(Timestamp, String)] = a ::: b
    def finish(b: List[(Timestamp, String)]): Seq[SV] = {
      checkSeriesSize(b.size, cap)
      b.sortBy { case (t, v) => (us(t), v) }.map { case (t, v) => SV(t, v) }
    }
    def bufferEncoder: Encoder[List[(Timestamp, String)]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[SV]] = ExpressionEncoder()
  }

  /** Linear interpolation of a sorted (time, double) series onto grid
    * instants. prev = last observation at-or-before the instant (ties:
    * greatest value — the grid walk's value-ascending tiebreak);
    * next = first strictly after; the value is `TimeSeries.linearAt`.
    */
  private def interpLinear(series: Seq[Row], grid: Seq[Timestamp]): Seq[TV] = {
    val obs = ensureSorted(
      series.map(r => (us(r.getTimestamp(0)), r.getDouble(1))).toIndexedSeq)
    if (obs.isEmpty) return Seq.empty // nothing to interpolate from
    // two-pointer merge over the (sorted) series and the grid —
    // O(obs + grid) per group; a per-point scan would be O(obs × grid).
    // The pointer rewinds if a caller passes an out-of-order grid
    // (SEQUENCE always yields ascending instants, but these are general
    // SQL functions).
    var i = 0 // count of observations with t <= current grid instant
    var lastGu = Long.MinValue
    grid.map { g =>
      val gu = us(g)
      if (gu < lastGu) i = 0
      lastGu = gu
      while (i < obs.length && obs(i)._1 <= gu) i += 1
      val (pt, pv) = if (i > 0) obs(i - 1) else (0L, 0.0)
      val (nt, nv) = if (i < obs.length) obs(i) else (0L, 0.0)
      // obs is non-empty, so at least one side exists: never null
      TV(g, TimeSeries.linearAt(gu, i > 0, pt, pv, i < obs.length, nt, nv))
    }
  }

  /** LOCF of a sorted (time, string) series onto grid instants. */
  private def interpLocf(series: Seq[Row], grid: Seq[Timestamp]): Seq[SV] = {
    val obs = ensureSorted(
      series.map(r => (us(r.getTimestamp(0)), r.getString(1))).toIndexedSeq)
    if (obs.isEmpty) return grid.map(SV(_, null))
    var i = 0
    var lastGu = Long.MinValue
    grid.map { g =>
      val gu = us(g)
      if (gu < lastGu) i = 0
      lastGu = gu
      while (i < obs.length && obs(i)._1 <= gu) i += 1
      SV(g, if (i == 0) null else obs(i - 1)._2)
    }
  }

  private def binTs(t: Timestamp, stepSeconds: Long): Timestamp = {
    val stepUs = stepSeconds * 1000000L
    val b = us(t) - math.floorMod(us(t), stepUs)
    new Timestamp(math.floorDiv(b, 1000L)) // whole-second boundaries: millis exact
  }

  private val AgoPattern = "(\\d+)\\s*(s|m|h|d)".r

  private[graft] def parseAgoMicros(d: String): Long = d.trim match {
    case AgoPattern(n, unit) =>
      val mult = unit match {
        case "s" => 1000000L
        case "m" => 60L * 1000000L
        case "h" => 3600L * 1000000L
        case "d" => 86400L * 1000000L
      }
      n.toLong * mult
    case other => throw new IllegalArgumentException(s"ago(): cannot parse duration '$other'")
  }

  /** Session conf that freezes AGO()/TS_NOW(): a `yyyy-MM-dd HH:mm:ss`
    * instant (java.sql.Timestamp.valueOf). Read when a query is
    * ANALYZED, so a deterministic query sets it on its own session;
    * unset means the wall clock per call. */
  val ClockKey = "spark.graft.dialect.now"

  /** How many observations one key's series may hold (the array form's
    * per-key memory bound — exceeded series fail fast instead of OOMing
    * an executor downstream). */
  val MaxSeriesElements = 1000000

  /** The series UDAF under an explicit cap (the cap test's handle). */
  private[graft] def seriesAgg(cap: Int): UserDefinedFunction = udaf(new SeriesAgg(cap))

  private def frozenNow(): Option[Timestamp] =
    Option(SQLConf.get.getConfString(ClockKey, null)).map(Timestamp.valueOf)

  private def clock(frozen: Option[Timestamp]): () => Timestamp =
    () => frozen.getOrElse(new Timestamp(System.currentTimeMillis()))

  /** The dialect's SQL functions by name, installed by
    * [[graft.plans.GraftExtensions]]. Also exposes the engine's native
    * expressions (VecDot, WordShingles, RollingPolyHash) — codegen'd /
    * compiled-loop implementations resolved straight from SQL text, no
    * UDF SerDe.
    */
  val functions: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.GraftShim.udfBuilder
    Seq(
      "vec_dot" -> { es =>
        require(es.length == 2, s"vec_dot requires 2 arguments, got ${es.length}")
        // cast to array<double> so SQL callers with array<float>/array<int>
        // get correct numbers (raw ArrayData reads would return garbage)
        // and non-castable inputs fail at analysis time
        VecDot(VectorFunctions.asDoubleArray(es(0)), VectorFunctions.asDoubleArray(es(1)))
      },
      "word_shingles" -> { es =>
        // n must be a literal: the shingle width shapes the expression
        // itself, so a column reference (or non-deterministic foldable)
        // has no meaningful analysis-time value
        require(es.length == 2, s"word_shingles requires 2 arguments, got ${es.length}")
        require(es(1).foldable && es(1).deterministic,
          "word_shingles requires a literal shingle size n")
        val n = es(1).eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"word_shingles: n must be an integer literal, got $other")
        }
        WordShingles(es(0), n)
      },
      "rolling_poly_hash" -> { es =>
        require(es.length == 1, s"rolling_poly_hash requires 1 argument, got ${es.length}")
        RollingPolyHash(es(0))
      },
      "create_time_series" -> udfBuilder("create_time_series",
        udaf(new SeriesAgg(MaxSeriesElements))),
      "create_time_series_str" -> udfBuilder("create_time_series_str",
        udaf(new SeriesStrAgg(MaxSeriesElements))),
      "interpolate_linear" -> udfBuilder("interpolate_linear",
        udf((series: Seq[Row], grid: Seq[Timestamp]) => interpLinear(series, grid))),
      "interpolate_locf" -> udfBuilder("interpolate_locf",
        udf((series: Seq[Row], grid: Seq[Timestamp]) => interpLocf(series, grid))),
      "bin" -> udfBuilder("bin", udf((t: Timestamp, s: Long) => binTs(t, s))),
      // the clock is read per ANALYSIS, so these two build their UDF
      // at lookup time
      "ts_now" -> { es =>
        val now = clock(frozenNow())
        udfBuilder("ts_now", udf(() => now()))(es)
      },
      "ago" -> { es =>
        val now = clock(frozenNow())
        udfBuilder("ago", udf((d: String) =>
          new Timestamp(now().getTime - parseAgoMicros(d) / 1000L)))(es)
      })
  }
}
