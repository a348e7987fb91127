package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Time-series operators: the Timestream dialect surface of the reference,
  * re-expressed as Spark-native plans.
  *
  * Reference semantics (all `/root/reference` unless noted):
  *  - CREATE_TIME_SERIES(time, value): timestream-queries/queries.txt:4-9,36-39
  *  - SEQUENCE(min(time), max(time), step): queries.txt:6,26,38
  *  - INTERPOLATE_LINEAR(ts, grid): queries.txt:4-6,24-26
  *  - INTERPOLATE_LOCF(ts, grid): queries.txt:7-9,27-29
  *  - CROSS JOIN UNNEST(series) AS t (time, value): queries.txt:16-17
  *  - flagship composite: queries.txt:2-19
  *
  * Design note (scale): interpolation never builds a key's series as one
  * array row. It is one sorted walk ([[KeyedWalk]]): one hash shuffle by
  * key, one sort by (key, time, value), and one pass that generates each
  * key's grid instants as it meets them and settles every instant from
  * the observations around it. No grid aggregate, union, explode or
  * window. The array form (`createTimeSeries`, the SQL dialect) is
  * still provided for API fidelity, just not on the hot path.
  *
  * Per-key memory is the grid instants since the key's last non-NULL
  * value (each waits for the next one); the sort spills to disk beyond
  * memory. A key's rows all go to one partition, so one hot sensor is
  * one task's work: if keys were genuinely unbounded, pre-bucket by
  * (key, coarse time range) and stitch range boundaries.
  */
object TimeSeries {

  /** T1 — CREATE_TIME_SERIES as an aggregate Column: ordered
    * array<struct<time,value>> per group. Use inside groupBy().agg().
    */
  def createTimeSeries(time: Column, value: Column): Column =
    array_sort(collect_list(struct(time.as("time"), value.as("value"))))

  /** T2 — SEQUENCE(min,max,step) as an aggregate Column producing the
    * regular grid spanning the group's observed range. `step` is a SQL
    * interval body, e.g. "1 HOUR", "30 SECONDS".
    */
  def sequenceGrid(time: Column, step: String): Column =
    sequence(min(time), max(time), expr(s"INTERVAL $step"))

  /** T5 — UNNEST a series column back to (time, value) rows. */
  def unnestSeries(df: DataFrame, series: String, timeCol: String, valueCol: String): DataFrame =
    df.withColumn("_ts_elem", explode(col(series)))
      .withColumn(timeCol, col("_ts_elem.time"))
      .withColumn(valueCol, col("_ts_elem.value"))
      .drop("_ts_elem", series)

  /** Parameters for grid interpolation over a long-format table. */
  final case class GridParams(
      key: String,
      time: String,
      value: String,
      status: String,
      step: String)

  /** INTERPOLATE_LINEAR at instant `gu` from the last observation at or
    * before it (`pt`, `pv`; absent when `hasPrev` is false) and the first
    * one after it (`nt`, `nv`; absent when `hasNext` is false), times in
    * µs. Edge rules in order: pt = nt → pv; no next → pv; no prev → nv;
    * neither → null. Otherwise pv + ((nv − pv) · Δt) / Δtotal on µs
    * longs — the operation order the oracle replays bit for bit. The
    * grid walk and the SQL dialect's `interpolate_linear` both call it.
    */
  def linearAt(gu: Long, hasPrev: Boolean, pt: Long, pv: Double,
      hasNext: Boolean, nt: Long, nv: Double): java.lang.Double =
    if (!hasPrev && !hasNext) null
    else if (!hasNext || (hasPrev && pt == nt)) pv
    else if (!hasPrev) nv
    else pv + ((nv - pv) * (gu - pt).toDouble) / (nt - pt).toDouble

  /** A grid step applied as `sequence` applies it: the i-th instant is
    * the start plus i·step, split into months, days and µs. A day-time
    * interval under a day (`1 second`, `1 HOUR`) is a fixed µs step. Whole
    * days (`1 DAY`) and months (`1 MONTH`, a year-month interval) go
    * through Spark's own interval add in the session time zone, so they
    * keep the local wall time across a DST change. */
  private final case class GridStep(months: Int, days: Int, micros: Long, zone: java.time.ZoneId) {
    /** The i-th instant from `t0`, µs. */
    def instant(t0: Long, i: Long): Long =
      if (months == 0 && days == 0) Math.addExact(t0, Math.multiplyExact(i, micros))
      else DateTimeUtils.timestampAddInterval(t0, Math.toIntExact(i * months),
        Math.toIntExact(i * days), Math.multiplyExact(i, micros), zone)
  }

  private def gridStep(df: DataFrame, step: String): GridStep = {
    val zone = DateTimeUtils.getZoneId(df.sparkSession.conf.get("spark.sql.session.timeZone"))
    val day = 86400000000L
    CatalystSqlParser.parseExpression(s"INTERVAL $step") match {
      case Literal(us: Long, _: DayTimeIntervalType) if us > 0 =>
        GridStep(0, (us / day).toInt, us % day, zone)
      case Literal(m: Int, _: YearMonthIntervalType) if m > 0 => GridStep(m, 0, 0L, zone)
      case _ => throw new IllegalArgumentException(
        s"interpolation grid step '$step' must be a positive day-time or year-month interval")
    }
  }

  /** A grid instant settled by the walk: its own time and the state at
    * it (last non-NULL value and its time, LOCF status). */
  private final case class Settled(g: Long, hasPrev: Boolean, pt: Long, pv: Double, locf: String)

  /** One key's grid walk over rows (key, time µs, value, status) sorted
    * by (time, value ASC NULLS FIRST, status ASC NULLS FIRST). */
  private final class GridWalk(k: Any, emit: Row => Unit, step: GridStep)
      extends KeyedWalk.Walker {
    private var t0 = 0L
    private var i = -1L // index of the next unsettled instant; -1 before the first row
    private var g = 0L // that instant, µs
    private var last = 0L // time of the key's latest row
    private var hasPrev = false // the last non-NULL value so far: pv at pt
    private var pt = 0L
    private var pv = 0.0
    private var locf: String = null // the last non-NULL status so far
    private val waiting = new java.util.ArrayDeque[Settled]() // instants awaiting nv

    def row(r: Row): Unit = {
      val t = r.getLong(1)
      if (i < 0) { t0 = t; i = 0; g = t }
      // every instant before this row is settled by the rows at or before it
      while (g < t) { waiting.add(settled()); advance() }
      if (!r.isNullAt(2)) {
        val v = r.getDouble(2)
        while (!waiting.isEmpty) put(waiting.poll(), hasNext = true, t, v)
        hasPrev = true; pt = t; pv = v
      }
      val s = r.getString(3)
      if (s != null) locf = s
      last = t
    }

    override def end(): Unit = {
      while (!waiting.isEmpty) put(waiting.poll(), hasNext = false, 0L, 0.0)
      while (g <= last) { put(settled(), hasNext = false, 0L, 0.0); advance() }
    }

    private def settled() = Settled(g, hasPrev, pt, pv, locf)
    private def advance(): Unit = { i += 1; g = step.instant(t0, i) }
    private def put(s: Settled, hasNext: Boolean, nt: Long, nv: Double): Unit =
      emit(Row(k, s.g, linearAt(s.g, s.hasPrev, s.pt, s.pv, hasNext, nt, nv), s.locf))
  }

  /** T2+T3+T4 fused: for each key, the regular grid from the key's first
    * time to its last with `step` (SEQUENCE), `value` linearly
    * interpolated onto it (INTERPOLATE_LINEAR) and the last `status`
    * carried onto it (INTERPOLATE_LOCF).
    *
    * Output columns: key, "time" (grid instant, unique per key),
    * "temperature" (interpolated double), "status" (LOCF string).
    *
    * One [[KeyedWalk]] over (key, time µs, value::double,
    * status::string) sorted by (time, value ASC NULLS FIRST, status).
    * Per key, grid instants start at the first time and are generated
    * as the walk meets them. An instant g is settled once a row with
    * time > g arrives (or the key ends): it takes the last non-NULL
    * value at or before g (at a tie the greatest), its time, and the
    * last non-NULL status (LOCF). It then waits for the next non-NULL
    * value, its nv/nt (at a tie the smallest), or the key's end (nt
    * NULL). [[linearAt]] gives the value. So an exact grid hit
    * interpolates to the observed value and LOCF picks the co-timed
    * observation, matching Timestream; a NULL value carries its status
    * for LOCF but is skipped for interpolation.
    *
    * Input rules: a NULL time is refused with an error naming the
    * column; the time column must be TIMESTAMP; `step` must be a
    * positive day-time or year-month interval.
    */
  def interpolateOnGrid(df: DataFrame, p: GridParams): DataFrame = {
    val key = df.select(col(p.key)).schema.head
    val time = df.select(col(p.time)).schema.head
    if (time.dataType != TimestampType) throw new IllegalArgumentException(
      s"interpolation time column '${p.time}' is ${time.dataType.sql}; it must be TIMESTAMP")
    val step = gridStep(df, p.step)
    val obs = df.select(
      col(p.key).as("_k"),
      unix_micros(KeyedWalk.nonNull(col(p.time), p.time, "interpolation")).as("_tu"),
      col(p.value).cast("double").as("_v"),
      col(p.status).cast("string").as("_s"))
    val out = StructType(Seq(
      key.copy(name = "_k"),
      StructField("_gu", LongType, time.nullable),
      StructField("temperature", DoubleType),
      StructField("status", StringType)))
    KeyedWalk(obs, "_k", Seq(col("_tu"), col("_v").asc_nulls_first, col("_s").asc_nulls_first),
      out)((k, emit) => new GridWalk(k, emit, step))
      .select(col("_k").as(p.key), timestamp_micros(col("_gu")).as("time"),
        col("temperature"), col("status"))
  }

  /** T9 — the flagship composite (queries.txt:2-19): both series
    * interpolated onto the grid and flattened. The reference's double
    * UNNEST + time equi-join + per-(key, instant) min(status) /
    * avg(temperature) regroup is the identity here, since each key's
    * grid instants are unique; only the rounding remains.
    */
  def flagship(df: DataFrame, p: GridParams): DataFrame =
    interpolateOnGrid(df, p).select(col(p.key), col("time"), col("status"),
      graft.functions.Arith.r2(col("temperature")).as("temperature"))

  /** T7 — BIN(time, step): truncate a timestamp to a fixed-width bucket.
    * Grafana panels: grafana-dashboard/grafanaTimeSeriesre_Inventdemo.json:121,392,518.
    * `t - pmod(t, step)` is pure long arithmetic (floor-mod handles
    * pre-epoch timestamps), exactly DuckDB's integer `//` semantics —
    * no double rounding at any timestamp magnitude.
    */
  def bin(time: Column, stepSeconds: Long): Column = {
    val stepUs = stepSeconds * 1000000L
    timestamp_micros(unix_micros(time) - pmod(unix_micros(time), lit(stepUs)))
  }

  /** T7 in the engine-native tumbling-window spelling: identical
    * semantics to `groupBy(bin(time, step))` (window start == bin
    * floor), but expressed through `window()`, which is what lets the
    * SAME function run UNCHANGED over a batch DataFrame or a
    * watermarked stream in append mode — the streaming-compatible
    * per-bin aggregate (state per open window, closed by the
    * watermark). TimeSeriesSpec pins both equivalences: bin-form
    * equality on batch, and batch/stream parity through MemoryStream.
    */
  def binMaxWindowed(df: DataFrame, key: String, time: String,
      value: String, step: String): DataFrame =
    df.groupBy(col(key), window(col(time), step).as("w"))
      .agg(max(col(value)).as("max_value"))
      .select(col(key), col("w.start").as("bin_ts"), col("max_value"))

  /** Min/max downsampling for time-series rendering: per (key, bin)
    * keep the extreme OBSERVATIONS — true timestamps and values, not
    * bin aggregates — so a plot over the downsampled series preserves
    * every spike the full series had. One hash shuffle on (key, bin),
    * two ranks over the same sorted partition; a single-row bin
    * surfaces as both its own min and max (one row per role, always —
    * deterministic cardinality). `tiebreak` must be a unique column:
    * equal values in a bin need a total order for reproducible picks.
    */
  def downsampleMinMax(df: DataFrame, key: String, time: String,
      value: String, tiebreak: String, stepSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = df.withColumn("bin_ts", bin(col(time), stepSeconds))
    def pick(role: String, w: Window.type => org.apache.spark.sql.expressions.WindowSpec) =
      binned
        .withColumn("_rn", row_number().over(w(Window)))
        .filter(col("_rn") === 1)
        .select(col(key), col("bin_ts"), lit(role).as("role"),
          col(tiebreak), col(time), col(value))
    val lows = pick("min", _.partitionBy(col(key), col("bin_ts"))
      .orderBy(col(value).asc, col(tiebreak).asc))
    val highs = pick("max", _.partitionBy(col(key), col("bin_ts"))
      .orderBy(col(value).desc, col(tiebreak).asc))
    lows.unionByName(highs)
  }

  /** OHLC candle downsampling: per (key, bin) the first (open), max
    * (high), min (low), and last (close) value — the other classic
    * rendering/feature reduction next to [[downsampleMinMax]]. ONE
    * hash aggregate with map-side combine (min_by/max_by partials —
    * no window sort, no second pass): at 100 TB the shuffle carries
    * (key, bin) groups, never observations. Open/close are picked by
    * `min_by`/`max_by` over a `struct(time, tiebreak)` ordinal —
    * struct ordering is lexicographic, so (time, then unique tiebreak)
    * is a total order with no arithmetic and therefore no overflow at
    * any time span or id width (a scaled-BIGINT composite wraps int64
    * ~106 days past its origin under non-ANSI mode — silently).
    */
  def ohlc(df: DataFrame, key: String, time: String, value: String,
      tiebreak: String, stepSeconds: Long): DataFrame = {
    val ord = struct(col(time), col(tiebreak))
    df.groupBy(col(key), bin(col(time), stepSeconds).as("bin_ts"))
      .agg(
        graft.functions.Arith.r2(min_by(col(value), ord)).as("open"),
        graft.functions.Arith.r2(max(col(value))).as("high"),
        graft.functions.Arith.r2(min(col(value))).as("low"),
        graft.functions.Arith.r2(max_by(col(value), ord)).as("close"),
        count(lit(1)).as("n_obs"))
  }

  /** Gap detection — the monitoring question "which sensors went
    * SILENT, and when": per key, every grid step in the key's observed
    * [first, last] span with NO observation inside it. Dual of
    * interpolation (same per-key SEQUENCE grid; instead of filling
    * gaps, report them). One distinct-project of (key, bin), one tiny
    * per-key bounds aggregate, and a LEFT ANTI hash join grid−observed
    * — at 100 TB the anti join shuffles (key, bin) pairs only, never
    * event payloads.
    */
  def detectGaps(df: DataFrame, key: String, time: String,
      stepSeconds: Long): DataFrame = {
    val observed = df
      .select(col(key), bin(col(time), stepSeconds).as("gap_start"))
      .distinct()
    val grid = df
      .groupBy(col(key))
      .agg(min(col(time)).as("_lo"), max(col(time)).as("_hi"))
      .select(col(key), explode(sequence(
        bin(col("_lo"), stepSeconds), bin(col("_hi"), stepSeconds),
        expr(s"INTERVAL $stepSeconds SECONDS"))).as("gap_start"))
    grid.join(observed, Seq(key, "gap_start"), "left_anti")
  }

  /** Per-series rate of change (discrete derivative): for every
    * observation after a key's first, (Δvalue / Δseconds) against the
    * predecessor in (time, tiebreak) order — the monitoring "rate()"
    * next to [[trailingAgg]]. One key shuffle + streaming sort, lag
    * is O(1) per row. The quotient is two IEEE ops (multiply, divide)
    * on exact integer micros, so a SQL oracle reproduces it
    * bit-for-bit; zero/negative Δt (duplicate timestamps) yields null
    * rather than ±Infinity.
    */
  def rateOfChange(df: DataFrame, key: String, time: String, value: String,
      tiebreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col(time), col(tiebreak))
    val dt = unix_micros(col(time)) - lag(unix_micros(col(time)), 1).over(w)
    val dv = col(value) - lag(col(value), 1).over(w)
    df.select(col(key), col(time), col(tiebreak), col(value))
      .withColumn("rate_r4",
        when(dt > 0,
          floor(dv * 1000000L / dt * 10000 + lit(0.5)) / 10000.0))
  }

  /** Trailing-window z-score anomaly flagging — "is this reading ≥ k
    * standard deviations from its own recent history?", the standard
    * per-sensor outlier monitor. The frame is a trailing RANGE window
    * (time-bounded, order-insensitive within ties), and every windowed
    * sum is over EXACT integer cents, so mean and variance come out of
    * integer algebra and the only float ops are a fixed division /
    * sqrt sequence a SQL oracle replays bit-for-bit:
    * z = (x·n − Σx) / (n · √((n·Σx² − (Σx)²) / (n·(n−1)))).
    *
    * The anomaly flag derives from the ROUNDED z (both engines emit
    * identical r4 values, so the boolean can't flip on a last-ulp
    * boundary). Null z when the window is thin (n < minN) or flat
    * (zero variance). One key shuffle; state is O(frame) per key.
    */
  def anomalyZScore(df: DataFrame, key: String, time: String, value: String,
      windowMicros: Long, minN: Long = 8L, zThreshold: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col("_tz"))
      .rangeBetween(-windowMicros, Window.currentRow)
    val n = col("n_win"); val s = col("_s"); val q = col("_q"); val x = col("_c")
    val a = n * q - s * s
    val z = (x * n - s).cast("double") /
      (n.cast("double") * sqrt(a.cast("double") / (n * (n - 1)).cast("double")))
    // squared cents pre-projected and all three frame aggregates in
    // ONE select: window expressions over plain attributes with a
    // shared spec collapse into a single Window node (one sort, one
    // pass) — chained withColumn + an inline product plans TWO
    df
      .withColumn("_tz", unix_micros(col(time)))
      .withColumn("_c", round(col(value) * 100).cast("long"))
      .withColumn("_c2", col("_c") * col("_c"))
      .select(col("*"),
        count(lit(1)).over(w).as("n_win"),
        sum(col("_c")).over(w).as("_s"),
        sum(col("_c2")).over(w).as("_q"))
      .withColumn("z_r4",
        when(n >= minN && a > 0, floor(z * 10000 + lit(0.5)) / 10000.0))
      .withColumn("is_anomaly", coalesce(abs(col("z_r4")) > zThreshold, lit(false)))
      .drop("_tz", "_c", "_c2", "_s", "_q")
  }
}
