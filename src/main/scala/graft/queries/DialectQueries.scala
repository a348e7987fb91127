package graft.queries

import graft.{QDef, Tables}
import graft.functions.Dialect

/** The Timestream dialect executed as SQL TEXT (SURVEY §7 Phase 3) —
  * the engine-native surface a reference user would type. The flagship
  * is near-verbatim timestream-queries/queries.txt:2-19: series built
  * with CREATE_TIME_SERIES, gridded with SEQUENCE, interpolated with
  * INTERPOLATE_LINEAR / INTERPOLATE_LOCF, flattened (Spark spells
  * UNNEST as LATERAL VIEW explode), grid-aligned with the time
  * equi-join, re-aggregated — and it must hash-match the SAME oracle
  * as the grid-walk t9.
  *
  * The relative-time query gives AGO()/TS_NOW()/BIN() their call sites
  * (P4/P6/T8/T7) with a frozen clock so the gate stays deterministic.
  */
object DialectQueries {

  /** Frozen "now" for gate queries: just past the last event in the
    * fixtures' January 2024 span. Shared with ExportQueries' ad-hoc
    * relative-window export so every ago()-anchored gate agrees on the
    * clock. Set as [[Dialect.ClockKey]] on the gate's own session. */
  private[queries] val FrozenNow = "2024-01-31 00:00:00"

  def defs: Seq[QDef] = Seq(

    QDef(
      "q_sql_flagship",
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        // the series-building CTE is consumed by BOTH UNNEST branches;
        // Spark inlines CTEs, so materialize it once (cached view)
        // instead of running the aggregation twice
        graft.CacheRegistry.retain(s.sql(
          """SELECT user_id,
            |       INTERPOLATE_LINEAR(
            |         CREATE_TIME_SERIES(ts, value),
            |         SEQUENCE(MIN(ts), MAX(ts), INTERVAL 1 HOUR)) AS interpolated_temperature,
            |       INTERPOLATE_LOCF(
            |         CREATE_TIME_SERIES_STR(ts, event_type),
            |         SEQUENCE(MIN(ts), MAX(ts), INTERVAL 1 HOUR)) AS interpolated_status
            |FROM events
            |GROUP BY user_id""".stripMargin)
          .persist())
          .createOrReplaceTempView("interpolated")
        s.sql(
          """WITH t AS (
            |  SELECT user_id, tt.time AS time, tt.value AS temperature
            |  FROM interpolated LATERAL VIEW explode(interpolated_temperature) x AS tt
            |), st AS (
            |  SELECT user_id, ss.time AS time, ss.value AS status
            |  FROM interpolated LATERAL VIEW explode(interpolated_status) y AS ss
            |)
            |SELECT t.user_id, t.time, MIN(st.status) AS status,
            |       floor(AVG(t.temperature) * 100 + 0.5) / 100.0D AS temperature
            |FROM t JOIN st ON t.user_id = st.user_id AND t.time = st.time
            |GROUP BY t.user_id, t.time
            |ORDER BY t.user_id, t.time""".stripMargin)
      },
      Some(TimeSeriesQueries.flagshipOracle)),

    QDef(
      "q_sql_ago_bin",
      (s, dir) => {
        s.conf.set(Dialect.ClockKey, FrozenNow)
        Tables.events(s, dir).createOrReplaceTempView("events")
        s.sql(
          """SELECT user_id, bin(ts, 86400) AS day,
            |       count(*) AS n,
            |       floor(max(value) * 100 + 0.5) / 100.0D AS max_value
            |FROM events
            |WHERE ts BETWEEN ago('15d') AND ts_now()
            |GROUP BY user_id, bin(ts, 86400)
            |ORDER BY user_id, day""".stripMargin)
      },
      Some(
        """SELECT user_id,
          |       make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) * 86400000000) AS day,
          |       count(*) AS n,
          |       floor(max(value) * 100 + 0.5) / 100.0 AS max_value
          |FROM events
          |WHERE CAST(ts AS TIMESTAMP) BETWEEN TIMESTAMP '2024-01-31 00:00:00' - INTERVAL 15 DAY
          |                                AND TIMESTAMP '2024-01-31 00:00:00'
          |GROUP BY user_id, day
          |ORDER BY user_id, day""".stripMargin))
  )
}
