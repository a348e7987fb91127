package graft.queries

import graft.{QDef, Tables}
import graft.operators.Cep
import graft.streaming.CepStream
import org.apache.spark.sql.functions._

/** C1 over `events` in BOTH forms SURVEY §2.7 requires (FIXTURES.md §C:
  * event_type='error' plays ERROR, value plays temperature): the
  * window-function formulation (`Cep.matchesBatch`, c1) and the state
  * machine `Cep.Machine` — driven by flatMapGroupsWithState (the
  * streaming operator, run here in batch mode — identical code path
  * minus the watermark TTL) and, for the generic funnel gates c8/c9, by
  * the batch sorted pass of `Cep.matchesPattern` (one shuffle by key,
  * one sort by (key, time, id), one mapPartitions). c1's two forms
  * hash-check against the SAME DuckDB oracle; StreamingCepSpec
  * additionally proves the streaming form across MemoryStream
  * micro-batches. WITHIN is 72 h — the scaled analog of the reference's
  * 1 minute for this table's ~10 h inter-event cadence. The B-sum
  * accumulates as DECIMAL in every formulation so avg_temperature is
  * independent of accumulation order.
  */
object CepQueries {

  private val P = Cep.Params(
    key = "user_id", time = "ts", value = "value", status = "event_type",
    id = "event_id", errorValue = "error", maxB = 5,
    withinMicros = 259200000000L)

  def defs: Seq[QDef] = Seq(
    QDef(
      "c1_cep_error_sandwich",
      (s, dir) => Cep.matchesBatch(Tables.events(s, dir), P)
        .orderBy(col("sensor_id"), col("event_time")),
      oracleSql),
    QDef(
      "c1_cep_stream_form",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir).select(
          col("user_id").cast("string").as("sensor_id"),
          col("ts").as("event_time"),
          col("value").cast("double").as("temperature"),
          col("event_type").as("status"),
          col("event_id").as("event_id")).as[CepStream.SensorEvent]
        CepStream.matches(ev, CepStream.Params(
          errorValue = "error", maxB = 5, withinMicros = 259200000000L))
          .toDF()
          .withColumn("sensor_id", col("sensor_id").cast("long"))
          .orderBy(col("sensor_id"), col("event_time"))
      },
      oracleSql,
      headline = true),

    // The generic pattern surface on a SECOND pattern shape:
    // signup (click|view){0,3} purchase WITHIN 72h — distinct A/C
    // predicates, a zero-minimum quantifier, and rows matching NO
    // variable ('error') breaking B runs, none of which the fixed
    // error-sandwich exercises. Output keeps matchesPattern's fixed
    // schema (sensor_id/.../temperature names), so the generic
    // operator is drop-in for the fixed one. The oracle replays the
    // boundary/parity construction with the same generalized
    // classification (B wins, non-B rows are boundaries).
    QDef(
      "c8_cep_funnel",
      (s, dir) => Cep.matchesPattern(Tables.events(s, dir), P, Cep.PatternSpec(
        a = col("event_type") === "signup",
        b = col("event_type").isin("click", "view"),
        c = col("event_type") === "purchase",
        minB = 0, maxB = 3, withinMicros = 259200000000L))
        .orderBy(col("sensor_id"), col("event_time")),
      funnelOracle),

    // The same funnel with a caller-supplied MEASURES clause: the
    // match vocabulary (A/C rows, B stats, history, derived means)
    // renamed into the funnel domain — signup/purchase times, journey
    // string, conversion latency — instead of the notebook's
    // sensor/temperature schema. Same match set as c8 (the oracle
    // shares c8's CTE chain verbatim; only the final SELECT differs).
    QDef(
      "c9_cep_funnel_measures",
      (s, dir) => Cep.matchesPattern(Tables.events(s, dir), P,
        Cep.PatternSpec(
          a = col("event_type") === "signup",
          b = col("event_type").isin("click", "view"),
          c = col("event_type") === "purchase",
          minB = 0, maxB = 3, withinMicros = 259200000000L),
        measures = m => Seq(
          m.key.as("user_id"),
          m.aTime.as("signup_time"),
          m.cTime.as("purchase_time"),
          m.bCount.cast("long").as("mid_events"),
          array_join(m.bHistory, ">").as("journey"),
          m.cValue.as("purchase_value"),
          m.avgValue.as("avg_value"),
          m.elapsedSeconds.as("seconds_to_convert")))
        .orderBy(col("user_id"), col("signup_time")),
      Some(funnelCtes +
        """SELECT user_id, t AS signup_time, c_t AS purchase_time,
          |       c_rn - rn - 1 AS mid_events,
          |       coalesce(array_to_string(b_hist, '>'), '') AS journey,
          |       c_v AS purchase_value,
          |       floor((CAST(CAST(v AS DECIMAL(18,2)) + CAST(c_v AS DECIMAL(18,2))
          |                   + coalesce(b_sum, 0) AS DOUBLE)
          |              / (c_rn - rn + 1)) * 100 + 0.5) / 100.0 AS avg_value,
          |       CAST(floor((epoch_us(c_t) - epoch_us(t)) / 1000000.0 + 0.5) AS BIGINT) AS seconds_to_convert
          |FROM matches ORDER BY user_id, signup_time""".stripMargin)))

  private lazy val funnelOracle = Some(funnelCtes +
    """SELECT user_id AS sensor_id, t AS event_time,
      |       c_rn - rn - 1 AS non_errors,
      |       coalesce(array_to_string(b_hist, '-'), '') AS history,
      |       least(v, c_v, b_min) AS min_temperature,
      |       floor((CAST(CAST(v AS DECIMAL(18,2)) + CAST(c_v AS DECIMAL(18,2))
      |                   + coalesce(b_sum, 0) AS DOUBLE)
      |              / (c_rn - rn + 1)) * 100 + 0.5) / 100.0 AS avg_temperature,
      |       greatest(v, c_v, b_max) AS max_temperature,
      |       CAST(floor((epoch_us(c_t) - epoch_us(t)) / 1000000.0 + 0.5) AS BIGINT) AS elapsed
      |FROM matches ORDER BY sensor_id, event_time""".stripMargin)

  private lazy val funnelCtes = (
        """WITH base AS (
          |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value AS v, event_type AS s, event_id,
          |         NOT (event_type IN ('click', 'view')) AS bd,
          |         row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
          |         sum(CASE WHEN event_type IN ('click', 'view') THEN 0 ELSE 1 END)
          |           OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
          |  FROM events
          |), epochstats AS (
          |  SELECT *,
          |    min(CASE WHEN NOT bd THEN v END) OVER (PARTITION BY user_id, epoch) AS b_min,
          |    max(CASE WHEN NOT bd THEN v END) OVER (PARTITION BY user_id, epoch) AS b_max,
          |    sum(CASE WHEN NOT bd THEN CAST(v AS DECIMAL(18,2)) END) OVER (PARTITION BY user_id, epoch) AS b_sum,
          |    list(s) OVER (PARTITION BY user_id, epoch ORDER BY rn
          |                  ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS b_hist
          |  FROM base
          |), bds AS (
          |  SELECT user_id, t, v, s, rn, epoch, b_min, b_max, b_sum, b_hist,
          |         lead(rn) OVER w AS c_rn,
          |         lead(t) OVER w AS c_t,
          |         lead(v) OVER w AS c_v,
          |         lead(s) OVER w AS c_s
          |  FROM epochstats WHERE bd
          |  WINDOW w AS (PARTITION BY user_id ORDER BY rn)
          |), cands AS (
          |  SELECT *, epoch - row_number() OVER (PARTITION BY user_id ORDER BY epoch) AS grp
          |  FROM bds
          |  WHERE s = 'signup' AND c_s = 'purchase'
          |    AND c_rn - rn - 1 BETWEEN 0 AND 3
          |    AND epoch_us(c_t) - epoch_us(t) <= 259200000000
          |), matches AS (
          |  SELECT * FROM (
          |    SELECT *, row_number() OVER (PARTITION BY user_id, grp ORDER BY epoch) AS pos FROM cands
          |  ) WHERE pos % 2 = 1
          |)
          |""".stripMargin)

  private lazy val oracleSql = Some(
        """WITH base AS (
          |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value AS v, event_type AS s, event_id,
          |         row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
          |         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
          |           OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
          |  FROM events
          |), epochstats AS (
          |  SELECT *,
          |    min(CASE WHEN s IS DISTINCT FROM 'error' THEN v END) OVER (PARTITION BY user_id, epoch) AS b_min,
          |    max(CASE WHEN s IS DISTINCT FROM 'error' THEN v END) OVER (PARTITION BY user_id, epoch) AS b_max,
          |    sum(CASE WHEN s IS DISTINCT FROM 'error' THEN CAST(v AS DECIMAL(18,2)) END) OVER (PARTITION BY user_id, epoch) AS b_sum,
          |    list(s) OVER (PARTITION BY user_id, epoch ORDER BY rn
          |                  ROWS BETWEEN 1 FOLLOWING AND 5 FOLLOWING) AS b_hist
          |  FROM base
          |), errs AS (
          |  SELECT user_id, t, v, rn, epoch, b_min, b_max, b_sum, b_hist,
          |         lead(rn) OVER w AS c_rn,
          |         lead(t) OVER w AS c_t,
          |         lead(v) OVER w AS c_v
          |  FROM epochstats WHERE s = 'error'
          |  WINDOW w AS (PARTITION BY user_id ORDER BY rn)
          |), cands AS (
          |  SELECT *, epoch - row_number() OVER (PARTITION BY user_id ORDER BY epoch) AS grp
          |  FROM errs
          |  WHERE c_rn IS NOT NULL AND c_rn - rn - 1 BETWEEN 1 AND 5
          |    AND epoch_us(c_t) - epoch_us(t) <= 259200000000
          |), matches AS (
          |  SELECT * FROM (
          |    SELECT *, row_number() OVER (PARTITION BY user_id, grp ORDER BY epoch) AS pos FROM cands
          |  ) WHERE pos % 2 = 1
          |)
          |SELECT user_id AS sensor_id, t AS event_time,
          |       c_rn - rn - 1 AS non_errors,
          |       array_to_string(b_hist, '-') AS history,
          |       least(v, c_v, b_min) AS min_temperature,
          |       floor((CAST(CAST(v AS DECIMAL(18,2)) + CAST(c_v AS DECIMAL(18,2)) + b_sum AS DOUBLE)
          |              / (c_rn - rn + 1)) * 100 + 0.5) / 100.0 AS avg_temperature,
          |       greatest(v, c_v, b_max) AS max_temperature,
          |       CAST(floor((epoch_us(c_t) - epoch_us(t)) / 1000000.0 + 0.5) AS BIGINT) AS elapsed
          |FROM matches ORDER BY sensor_id, event_time""".stripMargin)
}
