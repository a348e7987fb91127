package graft.queries

import graft.{QDef, Tables}
import graft.operators.TimeSeries
import graft.operators.TimeSeries.GridParams
import graft.functions.Arith
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-checked queries for the time-series operator family (SURVEY.md
  * §2.3). The reference's sensor stream maps onto the driver `events` table
  * (FIXTURES.md §C): user_id→sensor_id, ts→time, value→temperature,
  * event_type→status. Grid step is 1 hour (the reference's 1 s grid over a
  * 15-minute window scaled to this table's 30-day span; granularity is an
  * explicit knob in the reference, mwaa/datawrangler/airflow-query.py:30-32).
  */
object TimeSeriesQueries {

  private val P = GridParams(key = "user_id", time = "ts", value = "value",
    status = "event_type", step = "1 HOUR")

  /** Window-formulated interpolation in DuckDB SQL, shared by the
    * t3/t4/t9 oracles and (suffixed, time-windowed) by the
    * incremental-export oracle. An independent formulation of
    * TimeSeries.interpolateOnGrid's grid walk that must land on the same
    * rows: same tiebreak (observations before grid at equal t, then
    * value ascending), same micros integer math, same operator order in
    * the interpolation formula (TimeSeries.linearAt).
    */
  def gridCteDefs(sfx: String, where: String): String =
    s"""obs$sfx AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value AS v, event_type AS s FROM events$where
       |), unioned$sfx AS (
       |  SELECT user_id, t, v, s, 0 AS is_grid FROM obs$sfx
       |  UNION ALL
       |  SELECT user_id, unnest(generate_series(tmin, tmax, INTERVAL 1 HOUR)), NULL, NULL, 1
       |    FROM (SELECT user_id, min(t) AS tmin, max(t) AS tmax FROM obs$sfx GROUP BY user_id)
       |), win$sfx AS (
       |  SELECT user_id, t, is_grid,
       |    last_value(v IGNORE NULLS) OVER pw AS pv,
       |    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER pw AS pt,
       |    first_value(v IGNORE NULLS) OVER nw AS nv,
       |    first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER nw AS nt,
       |    last_value(s IGNORE NULLS) OVER pw AS locf
       |  FROM unioned$sfx
       |  WINDOW pw AS (PARTITION BY user_id ORDER BY t, is_grid, v ASC NULLS FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |         nw AS (PARTITION BY user_id ORDER BY t, is_grid, v ASC NULLS FIRST ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |), gridded$sfx AS (
       |  SELECT user_id, t AS time,
       |    CASE WHEN pt = nt THEN pv
       |         WHEN nt IS NULL THEN pv
       |         WHEN pt IS NULL THEN nv
       |         ELSE pv + (nv - pv) * (epoch_us(t) - epoch_us(pt)) / (epoch_us(nt) - epoch_us(pt)) END AS temperature,
       |    locf AS status
       |  FROM win$sfx WHERE is_grid = 1
       |)""".stripMargin

  private val oracleGridCte: String = "WITH " + gridCteDefs("", "") + "\n"

  /** The flagship oracle — shared by t9 (grid walk) and
    * q_sql_flagship (SQL-dialect array formulation): both engines'
    * flagship paths must land on this exact relation. */
  val flagshipOracle: String = oracleGridCte +
    """SELECT user_id, time, min(status) AS status,
      |       floor(avg(temperature) * 100 + 0.5) / 100.0 AS temperature
      |FROM gridded GROUP BY user_id, time
      |ORDER BY user_id, time""".stripMargin

  def defs: Seq[QDef] = Seq(

    // T9 — flagship composite: queries.txt:2-19.
    QDef(
      "t9_flagship",
      (s, dir) => TimeSeries.flagship(Tables.events(s, dir), P)
        .orderBy(col("user_id"), col("time")),
      Some(flagshipOracle),
      headline = true),

    // T3 — INTERPOLATE_LINEAR alone (queries.txt:23-26).
    QDef(
      "t3_interp_linear",
      (s, dir) => TimeSeries.interpolateOnGrid(Tables.events(s, dir), P)
        .select(col("user_id"), col("time"), Arith.r2(col("temperature")).as("temperature"))
        .orderBy(col("user_id"), col("time")),
      Some(oracleGridCte +
        """SELECT user_id, time, floor(temperature * 100 + 0.5) / 100.0 AS temperature
          |FROM gridded ORDER BY user_id, time""".stripMargin)),

    // T4 — INTERPOLATE_LOCF alone (queries.txt:27-29); string series.
    QDef(
      "t4_interp_locf",
      (s, dir) => TimeSeries.interpolateOnGrid(Tables.events(s, dir), P)
        .select(col("user_id"), col("time"), col("status"))
        .orderBy(col("user_id"), col("time")),
      Some(oracleGridCte +
        """SELECT user_id, time, status
          |FROM gridded ORDER BY user_id, time""".stripMargin)),

    // T1+T5 — CREATE_TIME_SERIES then UNNEST round-trip (queries.txt:36-39
    // built, :16-17 flattened). Checks ordered array<struct> semantics.
    QDef(
      "t1_series_roundtrip",
      (s, dir) => {
        val series = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(TimeSeries.createTimeSeries(col("ts"), col("value")).as("series"))
        TimeSeries.unnestSeries(series, "series", "time", "value")
          .select(col("user_id"), col("time"), col("value"))
          .orderBy(col("user_id"), col("time"), col("value"))
      },
      Some(
        """SELECT user_id, CAST(ts AS TIMESTAMP) AS time, value
          |FROM events ORDER BY user_id, time, value""".stripMargin)),

    // T1 UN-FLATTENED — the reference's console queries return the
    // series ARRAY itself (queries.txt:22-41), one row per sensor. The
    // gate checks that series-valued shape directly: per-key element
    // order and values ride in ONE output row, encoded as
    // "micros:centivalue" CSV (a deterministic string both engines
    // produce bit-identically; nested types don't hash portably across
    // the parquet/pandas/DuckDB compare).
    QDef(
      "t1_series_value",
      (s, dir) => {
        val series = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(TimeSeries.createTimeSeries(col("ts"), col("value")).as("series"))
        series.select(
          col("user_id"),
          size(col("series")).cast("long").as("n_points"),
          array_join(
            transform(col("series"), e => concat(
              unix_micros(e("time")).cast("string"), lit(":"),
              floor(e("value") * 100 + lit(0.5)).cast("long").cast("string"))),
            ",").as("series_csv"))
          .orderBy(col("user_id"))
      },
      Some(
        """SELECT user_id,
          |       CAST(count(*) AS BIGINT) AS n_points,
          |       string_agg(
          |         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR) || ':' ||
          |         CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS VARCHAR),
          |         ',' ORDER BY CAST(ts AS TIMESTAMP), value) AS series_csv
          |FROM events GROUP BY user_id
          |ORDER BY user_id""".stripMargin)),

    // T2 — SEQUENCE grid alone (queries.txt:6).
    QDef(
      "t2_sequence_grid",
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(TimeSeries.sequenceGrid(col("ts"), "1 HOUR").as("grid"))
        .select(col("user_id"), explode(col("grid")).as("time"))
        .orderBy(col("user_id"), col("time")),
      Some(
        """SELECT user_id, unnest(generate_series(tmin, tmax, INTERVAL 1 HOUR)) AS time
          |FROM (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS tmin, max(CAST(ts AS TIMESTAMP)) AS tmax
          |      FROM events GROUP BY user_id)
          |ORDER BY user_id, time""".stripMargin)),

    // T7+A4+O2 — BIN(time, 1h) + max per (sensor, bin), ranked; the
    // Grafana "max temperature per bin" panel (grafana…json:518,614).
    QDef(
      "t7_bin_max",
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("user_id"), TimeSeries.bin(col("ts"), 3600L).as("time_bin"))
        .agg(max(col("value")).as("max_value"), count(lit(1)).as("n"))
        .orderBy(desc("max_value"), col("user_id"), col("time_bin")),
      Some(
        """SELECT user_id,
          |       make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600000000) AS time_bin,
          |       max(value) AS max_value, count(*) AS n
          |FROM events GROUP BY user_id, time_bin
          |ORDER BY max_value DESC, user_id, time_bin""".stripMargin)),

    // Rendering-grade downsample: per (user, 6h bin) keep the extreme
    // OBSERVATIONS (true timestamps, not bin aggregates) so plots
    // preserve spikes; event_id tiebreaks equal values for a
    // deterministic pick in both engines.
    QDef(
      "t11_downsample_minmax",
      (s, dir) => TimeSeries.downsampleMinMax(
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("value"), col("event_id")),
        key = "user_id", time = "ts", value = "value",
        tiebreak = "event_id", stepSeconds = 6L * 3600L)
        .orderBy(col("user_id"), col("bin_ts"), col("role")),
      Some(
        """WITH b AS (
          |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
          |         make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000) * 21600000000) AS bin_ts
          |  FROM events),
          |lo AS (
          |  SELECT user_id, bin_ts, 'min' AS role, event_id, ts, value FROM (
          |    SELECT *, row_number() OVER (PARTITION BY user_id, bin_ts
          |                                 ORDER BY value ASC, event_id) AS rn
          |    FROM b) WHERE rn = 1),
          |hi AS (
          |  SELECT user_id, bin_ts, 'max' AS role, event_id, ts, value FROM (
          |    SELECT *, row_number() OVER (PARTITION BY user_id, bin_ts
          |                                 ORDER BY value DESC, event_id) AS rn
          |    FROM b) WHERE rn = 1)
          |SELECT * FROM (SELECT * FROM lo UNION ALL SELECT * FROM hi)
          |ORDER BY user_id, bin_ts, role""".stripMargin)),

    // OHLC candle downsampling next to t11's min/max form: first /
    // high / low / last per (user, 6h bin) as ONE map-side-combined
    // hash aggregate (min_by/max_by over a composite (time, id)
    // ordinal — no window sort). Oracle = DuckDB arg_min/arg_max over
    // the identical ordinal.
    QDef(
      "t12_ohlc_candles",
      (s, dir) => graft.operators.TimeSeries.ohlc(
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("value"), col("event_id")),
        key = "user_id", time = "ts", value = "value",
        tiebreak = "event_id", stepSeconds = 6L * 3600L)
        .orderBy(col("user_id"), col("bin_ts")),
      Some(
        """WITH b AS (
          |  SELECT user_id, value, event_id,
          |         make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000) * 21600000000) AS bin_ts,
          |         (epoch_us(CAST(ts AS TIMESTAMP))
          |            - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) * 1000000 + event_id AS ord
          |  FROM events)
          |SELECT user_id, bin_ts,
          |       floor(arg_min(value, ord) * 100 + 0.5) / 100.0 AS open,
          |       floor(max(value) * 100 + 0.5) / 100.0 AS high,
          |       floor(min(value) * 100 + 0.5) / 100.0 AS low,
          |       floor(arg_max(value, ord) * 100 + 0.5) / 100.0 AS close,
          |       count(*) AS n_obs
          |FROM b GROUP BY user_id, bin_ts
          |ORDER BY user_id, bin_ts""".stripMargin)),

    // Per-series discrete derivative (the monitoring rate()): value
    // delta over seconds delta against the (time, id)-ordered
    // predecessor; duplicate-timestamp pairs yield null, not ±Inf.
    // The quotient is the same two IEEE ops in both engines, so the
    // gate hash-checks the rates at 4 decimals.
    QDef(
      "t13_rate_of_change",
      (s, dir) => graft.operators.TimeSeries.rateOfChange(
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("value"), col("event_id")),
        key = "user_id", time = "ts", value = "value", tiebreak = "event_id")
        .orderBy(col("user_id"), col("ts"), col("event_id")),
      Some(
        """WITH b AS (
          |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
          |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
          |  FROM events),
          |l AS (
          |  SELECT user_id, ts, event_id, value,
          |         us - lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dt,
          |         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dv
          |  FROM b)
          |SELECT user_id, ts, event_id, value,
          |       CASE WHEN dt > 0
          |            THEN floor(dv * 1000000 / dt * 10000 + 0.5) / 10000.0 END AS rate_r4
          |FROM l ORDER BY user_id, ts, event_id""".stripMargin)),

    // Trailing z-score anomaly monitor: each reading scored against
    // its user's trailing 3-day window — exact-integer cent sums feed
    // the variance, so the z arithmetic is a fixed IEEE sequence both
    // engines evaluate identically, and the anomaly flag derives from
    // the ROUNDED z (no last-ulp boolean flips). Thin (< 8 obs) and
    // flat windows yield null scores.
    QDef(
      "t15_anomaly_zscore",
      (s, dir) => graft.operators.TimeSeries.anomalyZScore(
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("value"), col("event_id")),
        key = "user_id", time = "ts", value = "value",
        windowMicros = 3L * 86400L * 1000000L)
        .orderBy(col("event_id")),
      Some(
        """WITH b AS (
          |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
          |         CAST(round(value * 100) AS BIGINT) AS c
          |  FROM events),
          |wnd AS (
          |  SELECT user_id, ts, event_id, value, c,
          |         CAST(count(*) OVER w AS BIGINT) AS n_win,
          |         CAST(sum(c) OVER w AS BIGINT) AS s,
          |         CAST(sum(c * c) OVER w AS BIGINT) AS q
          |  FROM b
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts
          |               RANGE BETWEEN INTERVAL 3 DAYS PRECEDING AND CURRENT ROW)),
          |z AS (
          |  SELECT user_id, ts, event_id, value, n_win,
          |         CASE WHEN n_win >= 8 AND n_win * q - s * s > 0 THEN
          |           floor(CAST(c * n_win - s AS DOUBLE)
          |                 / (CAST(n_win AS DOUBLE)
          |                    * sqrt(CAST(n_win * q - s * s AS DOUBLE)
          |                           / CAST(n_win * (n_win - 1) AS DOUBLE)))
          |                 * 10000 + 0.5) / 10000.0
          |         END AS z_r4
          |  FROM wnd)
          |SELECT user_id, ts, value, event_id, n_win, z_r4,
          |       coalesce(abs(z_r4) > 3.0, FALSE) AS is_anomaly
          |FROM z ORDER BY event_id""".stripMargin)),

    // Gap detection over the first January week: hours inside each
    // user's observed span with NO event — the dead-sensor monitoring
    // view, and the registry's LEFT ANTI join shape (grid minus
    // observed, (key, bin) pairs only through the shuffle).
    QDef(
      "t14_gap_detection",
      (s, dir) => graft.operators.TimeSeries.detectGaps(
        Tables.events(s, dir)
          .filter(col("ts") >= lit("2024-01-01").cast("timestamp") &&
            col("ts") < lit("2024-01-08").cast("timestamp"))
          .select(col("user_id"), col("ts")),
        key = "user_id", time = "ts", stepSeconds = 3600L)
        .orderBy(col("user_id"), col("gap_start")),
      Some(
        """WITH b AS (
          |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
          |         make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600000000) AS hour
          |  FROM events
          |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01'
          |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08'
          |), o AS (
          |  SELECT DISTINCT user_id, hour FROM b
          |), r AS (
          |  SELECT user_id,
          |         make_timestamp((epoch_us(min(ts)) // 3600000000) * 3600000000) AS lo,
          |         make_timestamp((epoch_us(max(ts)) // 3600000000) * 3600000000) AS hi
          |  FROM b GROUP BY user_id
          |), g AS (
          |  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
          |  FROM r
          |)
          |SELECT user_id, hour AS gap_start FROM (
          |  SELECT user_id, hour FROM g
          |  EXCEPT
          |  SELECT user_id, hour FROM o
          |)
          |ORDER BY user_id, gap_start""".stripMargin)),

    // A5 — avg + APPROX_PERCENTILE per 1-day bin (grafana…json:392).
    // Oracle: while the accuracy (1M) exceeds per-bin cardinality,
    // Spark's sketch is exact and returns the discrete element
    // quantile_disc picks — verified element-for-element; 1M keeps that
    // true through sf1-scale bins (sketch memory is bounded by
    // distinct retained values, far below accuracy here). Beyond that
    // the op is approximate by design — the exact twin below remains
    // the bit-exact formulation at any scale.
    QDef(
      "a5_percentile_bins",
      (s, dir) => Tables.events(s, dir)
        .groupBy(TimeSeries.bin(col("ts"), 86400L).as("time_bin"))
        .agg(
          Arith.r2(avg(col("value"))).as("avg_value"),
          Arith.r2(percentile_approx(col("value"), lit(0.9), lit(1000000)).cast("double")).as("p90"),
          Arith.r2(percentile_approx(col("value"), lit(0.75), lit(1000000)).cast("double")).as("p75"))
        .orderBy(col("time_bin")),
      Some(
        """SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) * 86400000000) AS time_bin,
          |       floor(avg(value) * 100 + 0.5) / 100.0 AS avg_value,
          |       floor(quantile_disc(value, 0.9) * 100 + 0.5) / 100.0 AS p90,
          |       floor(quantile_disc(value, 0.75) * 100 + 0.5) / 100.0 AS p75
          |FROM events GROUP BY time_bin
          |ORDER BY time_bin""".stripMargin)),

    // Exact continuous percentile, formulated identically in both engines
    // (rank windows + linear interpolation at pos = p*(n-1)) so the compare
    // is bit-exact — builtin `percentile` vs `quantile_cont` differ in
    // float op order and can flip a round(_,2) boundary.
    QDef(
      "a5_percentile_exact",
      (s, dir) => {
        val binned = Tables.events(s, dir)
          .select(TimeSeries.bin(col("ts"), 86400L).as("time_bin"), col("value"))
        val w = Window.partitionBy(col("time_bin")).orderBy(col("value"))
        val wAll = Window.partitionBy(col("time_bin"))
        val ranked = binned
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wAll))
        def pct(p: Double, alias: String) = {
          val pos = lit(p) * (col("n") - 1)
          val k = floor(pos)
          val lo = min(when(col("rn") === k + 1, col("value")))
          val hi = min(when(col("rn") === k + 2, col("value")))
          Arith.r2(lo + (max(pos) - max(k)) * (coalesce(hi, lo) - lo)).as(alias)
        }
        ranked.groupBy(col("time_bin"))
          .agg(Arith.r2(avg(col("value"))).as("avg_value"), pct(0.9, "p90"), pct(0.75, "p75"))
          .orderBy(col("time_bin"))
      },
      Some(
        """WITH binned AS (
          |  SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) * 86400000000) AS time_bin, value
          |  FROM events
          |), ranked AS (
          |  SELECT time_bin, value,
          |         row_number() OVER (PARTITION BY time_bin ORDER BY value) AS rn,
          |         count(*) OVER (PARTITION BY time_bin) AS n
          |  FROM binned
          |)
          |SELECT time_bin, floor(avg(value) * 100 + 0.5) / 100.0 AS avg_value,
          |  floor((min(CASE WHEN rn = floor(0.9 * (n - 1)) + 1 THEN value END)
          |    + (max(0.9 * (n - 1)) - max(floor(0.9 * (n - 1))))
          |    * (coalesce(min(CASE WHEN rn = floor(0.9 * (n - 1)) + 2 THEN value END),
          |                min(CASE WHEN rn = floor(0.9 * (n - 1)) + 1 THEN value END))
          |       - min(CASE WHEN rn = floor(0.9 * (n - 1)) + 1 THEN value END))) * 100 + 0.5) / 100.0 AS p90,
          |  floor((min(CASE WHEN rn = floor(0.75 * (n - 1)) + 1 THEN value END)
          |    + (max(0.75 * (n - 1)) - max(floor(0.75 * (n - 1))))
          |    * (coalesce(min(CASE WHEN rn = floor(0.75 * (n - 1)) + 2 THEN value END),
          |                min(CASE WHEN rn = floor(0.75 * (n - 1)) + 1 THEN value END))
          |       - min(CASE WHEN rn = floor(0.75 * (n - 1)) + 1 THEN value END))) * 100 + 0.5) / 100.0 AS p75
          |FROM ranked GROUP BY time_bin
          |ORDER BY time_bin""".stripMargin))
  )
}
