package graft.queries

import graft.{QDef, Tables}
import graft.operators.Temporal
import org.apache.spark.sql.functions._

/** Gates for the temporal operators (as-of join, sessionization) over
  * the events stream table. The as-of oracle is DuckDB's native
  * `ASOF LEFT JOIN` — an independent implementation of the semantics,
  * not a SQL transliteration of our plan — which makes these gates a
  * genuine cross-engine check of the operator's definition.
  *
  * The right side of each as-of gate is pre-reduced to one row per
  * (user_id, ts): with duplicate right timestamps both engines would
  * otherwise be free to pick different winners (DuckDB documents the
  * pick as arbitrary; ours is the tiebreak column), and the gate must
  * be deterministic in BOTH engines.
  */
object TemporalQueries {

  /** Shared shapes: clicks (fact side) and per-(user, ts) reduced
    * errors (state side). */
  private def clicks(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("click_value"))

  private def errors(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("err_value"))

  private val asofOracleBody =
    """WITH l AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value AS click_value
      |  FROM events WHERE event_type = 'click'),
      |r AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS rt, max(value) AS err_value
      |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
      |SELECT l.event_id, l.user_id, l.ts, l.click_value,
      |       %s AS asof_err_value,
      |       %s AS asof_time
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.rt
      |ORDER BY l.event_id""".stripMargin

  def defs: Seq[QDef] = Seq(

    // As-of join: each click enriched with the user's latest error
    // at-or-before the click (point-in-time-correct state lookup).
    QDef(
      "j_asof_latest",
      (s, dir) => Temporal.asOf(
        clicks(s, dir), errors(s, dir),
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        payload = Seq("err_value"))
        .orderBy(col("event_id")),
      Some(asofOracleBody.format("r.err_value", "r.rt"))),

    // Same join under a staleness bound: matches older than 1 hour are
    // nulled out (rows kept — left-outer, not a filter).
    QDef(
      "j_asof_tolerance",
      (s, dir) => Temporal.asOf(
        clicks(s, dir), errors(s, dir),
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        payload = Seq("err_value"),
        tolerance = Some(expr("INTERVAL 1 HOUR")))
        .orderBy(col("event_id")),
      Some(asofOracleBody.format(
        "CASE WHEN r.rt < l.ts - INTERVAL 1 HOUR THEN NULL ELSE r.err_value END",
        "CASE WHEN r.rt < l.ts - INTERVAL 1 HOUR THEN NULL ELSE r.rt END"))),

    // FORWARD as-of: each click enriched with the user's NEXT error
    // at-or-after it. DuckDB has no forward ASOF — the oracle runs its
    // BACKWARD ASOF on negated epoch-micros (order reversal maps
    // "smallest rt ≥ t" onto "greatest −rt ≤ −t"), so the engine's
    // forward operator is checked by independent backward machinery.
    QDef(
      "j_asof_next",
      (s, dir) => Temporal.asOfNext(
        clicks(s, dir), errors(s, dir),
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        payload = Seq("err_value"))
        .orderBy(col("event_id")),
      Some(
        """WITH l AS (
          |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value AS click_value,
          |         -epoch_us(CAST(ts AS TIMESTAMP)) AS nt
          |  FROM events WHERE event_type = 'click'),
          |r AS (
          |  SELECT user_id, CAST(ts AS TIMESTAMP) AS rt,
          |         -epoch_us(CAST(ts AS TIMESTAMP)) AS nt,
          |         max(value) AS err_value
          |  FROM events WHERE event_type = 'error' GROUP BY 1, 2, 3)
          |SELECT l.event_id, l.user_id, l.ts, l.click_value,
          |       r.err_value AS asof_err_value,
          |       r.rt AS asof_time
          |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.nt >= r.nt
          |ORDER BY l.event_id""".stripMargin)),

    // Trailing time-range aggregate: per event, count/sum/max over the
    // user's events in the last hour (inclusive RANGE frame). The
    // oracle uses DuckDB's native RANGE INTERVAL PRECEDING frame —
    // independent frame machinery, same SQL semantics.
    QDef(
      "t10_trailing_window",
      (s, dir) => Temporal.trailingAgg(
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        key = "user_id", time = "ts", value = "value",
        windowMicros = 3600L * 1000000L)
        .orderBy(col("event_id")),
      Some(
        """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
          |       CAST(count(*) OVER w AS BIGINT) AS n_window,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS sum_cents_window,
          |       max(value) OVER w AS max_value_window
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
          |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin)),

    // Range join: clicks inside 30-minute incident windows opened by
    // each user's errors, as a binned equi-join (bin width = window
    // width, so each interval expands to ≤ 2 bins). The oracle is
    // DuckDB's native inequality join (IEJoin) — independent range-join
    // machinery checking the same containment semantics.
    QDef(
      "j_range_incidents",
      (s, dir) => {
        val windows = errors(s, dir)
          .select(col("user_id"), col("ts").as("w_start"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"),
            col("err_value"))
        Temporal.rangeJoin(
          clicks(s, dir), windows, keys = Seq("user_id"),
          time = "ts", start = "w_start", end = "w_end",
          binMicros = 30L * 60L * 1000000L)
          .orderBy(col("event_id"), col("w_start"))
      },
      Some(
        """WITH l AS (
          |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value AS click_value
          |  FROM events WHERE event_type = 'click'),
          |r AS (
          |  SELECT user_id, CAST(ts AS TIMESTAMP) AS w_start,
          |         CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS w_end,
          |         max(value) AS err_value
          |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
          |SELECT l.event_id, l.user_id, l.ts, l.click_value,
          |       r.w_start, r.w_end, r.err_value
          |FROM l JOIN r ON l.user_id = r.user_id
          |              AND l.ts >= r.w_start AND l.ts < r.w_end
          |ORDER BY l.event_id, r.w_start""".stripMargin)),

    // The SAME containment join written as the NATURAL theta predicate,
    // relying on the graft.plans.RangeJoinBinRewrite optimizer rule to
    // produce the binned plan — proving the rule end-to-end against the
    // identical cross-engine oracle (RangeRuleSpec pins the plan shape
    // and rule-off equivalence).
    QDef(
      "j_range_rewrite",
      (s, dir) => {
        val l = clicks(s, dir)
        val w = errors(s, dir)
          .select(col("user_id").as("uid"), col("ts").as("w_start"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"),
            col("err_value"))
        l.join(w, l("user_id") === w("uid") &&
            l("ts") >= w("w_start") && l("ts") < w("w_end"))
          .select(col("event_id"), col("user_id"), col("ts"),
            col("click_value"), col("w_start"), col("w_end"), col("err_value"))
          .orderBy(col("event_id"), col("w_start"))
      },
      Some(
        """WITH l AS (
          |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value AS click_value
          |  FROM events WHERE event_type = 'click'),
          |r AS (
          |  SELECT user_id, CAST(ts AS TIMESTAMP) AS w_start,
          |         CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS w_end,
          |         max(value) AS err_value
          |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
          |SELECT l.event_id, l.user_id, l.ts, l.click_value,
          |       r.w_start, r.w_end, r.err_value
          |FROM l JOIN r ON l.user_id = r.user_id
          |              AND l.ts >= r.w_start AND l.ts < r.w_end
          |ORDER BY l.event_id, r.w_start""".stripMargin)),

    // Sessionization: per-user activity sessions at a 4-hour gap, via
    // Spark's native session_window (the streaming-compatible form);
    // the oracle is the explicit gaps-and-islands definition.
    QDef(
      "x_sessionize",
      (s, dir) => Temporal.sessionize(
        Tables.events(s, dir), key = "user_id", time = "ts",
        value = "value", gap = "4 hours")
        .orderBy(col("user_id"), col("session_start")),
      Some(
        """WITH e AS (
          |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value FROM events),
          |m AS (
          |  SELECT user_id, t, value,
          |         CASE WHEN lag(t) OVER w IS NULL
          |                OR t > lag(t) OVER w + INTERVAL 4 HOUR
          |              THEN 1 ELSE 0 END AS brk
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
          |s AS (
          |  SELECT user_id, t, value,
          |         sum(brk) OVER (PARTITION BY user_id ORDER BY t
          |                        ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM m)
          |SELECT user_id,
          |       min(t) AS session_start,
          |       max(t) + INTERVAL 4 HOUR AS session_end,
          |       count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
          |FROM s GROUP BY user_id, sid
          |ORDER BY user_id, session_start""".stripMargin)))
}
