"""Independent formulations of the fleet_dashboard requests, in DuckDB.

Each distinct request (kind, time range, sensor) the JVM ran is recomputed
here over the same parquet files and CSVs with plain SQL, and its result
fingerprint compared with the fingerprint of every JVM request of that key.
A mismatch is a failed operation.
"""
import datetime
import hashlib

import duckdb

EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def fingerprint(rows):
    """Same digest as Dashboard.fingerprint: timestamps as epoch micros,
    doubles to 2 decimals, rows joined by '|', sorted, md5."""
    def v(x):
        if x is None:
            return "\\N"
        if isinstance(x, float):
            return "%.2f" % x
        if isinstance(x, datetime.datetime):
            if x.tzinfo is None:
                x = x.replace(tzinfo=datetime.timezone.utc)
            return str((x - EPOCH) // datetime.timedelta(microseconds=1))
        return str(x)
    lines = sorted("|".join(v(x) for x in r) for r in rows)
    md = hashlib.md5()
    for s in lines:
        md.update((s + "\n").encode())
    return md.hexdigest()


FLAGSHIP = """
WITH obs AS (
  SELECT sensor_id AS k, time AS t, temperature AS v, status AS s FROM hist
  WHERE epoch_us(time) >= {lo} AND epoch_us(time) < {hi}
), unioned AS (
  SELECT k, t, v, s, 0 AS g FROM obs
  UNION ALL
  SELECT k, unnest(generate_series(tmin, tmax, INTERVAL 1 SECOND)), NULL, NULL, 1
  FROM (SELECT k, min(t) AS tmin, max(t) AS tmax FROM obs GROUP BY k)
), win AS (
  SELECT k, t, g,
    last_value(v IGNORE NULLS) OVER pw AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER pw AS pt,
    first_value(v IGNORE NULLS) OVER nw AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER nw AS nt,
    last_value(s IGNORE NULLS) OVER pw AS locf
  FROM unioned
  WINDOW pw AS (PARTITION BY k ORDER BY t, g, v ASC NULLS FIRST
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         nw AS (PARTITION BY k ORDER BY t, g, v ASC NULLS FIRST
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
), gridded AS (
  SELECT k, t AS time,
    CASE WHEN pt = nt THEN pv WHEN nt IS NULL THEN pv WHEN pt IS NULL THEN nv
         ELSE pv + (nv - pv) * (epoch_us(t) - epoch_us(pt)) / (epoch_us(nt) - epoch_us(pt))
    END AS temperature,
    locf AS status
  FROM win WHERE g = 1
)
SELECT k, time, min(status), floor(avg(temperature) * 100 + 0.5) / 100.0
FROM gridded GROUP BY k, time
"""

WINDOW = "FROM hist WHERE epoch_us(time) >= {lo} AND epoch_us(time) < {hi}"

# The Grafana panels (grafana-dashboard/grafanaTimeSeriesre_Inventdemo.json).
PANELS = {
    "panel.raw": "SELECT sensor_id, time, temperature, status " + WINDOW + " ORDER BY time",
    "panel.status": """
SELECT CAST(sum(CASE WHEN status = 'OK' THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN status = 'WARNING' THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN status = 'ERROR' THEN 1 ELSE 0 END) AS BIGINT),
       count(*)
""" + WINDOW,
    "panel.percentiles": """
SELECT make_timestamp(epoch_us(time) - epoch_us(time) % 30000000) AS bin,
       floor(avg(temperature) * 100 + 0.5) / 100.0,
       floor(quantile_disc(temperature, 0.9) * 100 + 0.5) / 100.0,
       floor(quantile_disc(temperature, 0.75) * 100 + 0.5) / 100.0
""" + WINDOW + " GROUP BY 1",
    "panel.latest": """
SELECT sensor_id, make_timestamp(epoch_us(time) - epoch_us(time) % 10000000), max(temperature)
""" + WINDOW + " GROUP BY 1, 2",
    "panel.max": "SELECT sensor_id, max(temperature) " + WINDOW + " GROUP BY 1",
}

# The ERROR sandwich A B{{1,5}} C WITHIN 1 minute, AFTER MATCH SKIP PAST LAST
# ROW, as window functions (the same epoch/parity resolution the repository's
# DuckDB oracle uses for Cep.matchesBatch).
CEP = """
WITH base AS (
  SELECT sensor_id AS k, time AS t, temperature AS v, status AS s,
         row_number() OVER (PARTITION BY sensor_id ORDER BY time, epoch_us(time)) AS rn,
         sum(CASE WHEN status = 'ERROR' THEN 1 ELSE 0 END)
           OVER (PARTITION BY sensor_id ORDER BY time, epoch_us(time)
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
  FROM hist WHERE epoch_us(time) >= {lo} AND epoch_us(time) < {hi}
), epochstats AS (
  SELECT *,
    min(CASE WHEN s IS DISTINCT FROM 'ERROR' THEN v END) OVER (PARTITION BY k, epoch) AS b_min,
    max(CASE WHEN s IS DISTINCT FROM 'ERROR' THEN v END) OVER (PARTITION BY k, epoch) AS b_max,
    sum(CASE WHEN s IS DISTINCT FROM 'ERROR' THEN CAST(v AS DECIMAL(18,2)) END)
      OVER (PARTITION BY k, epoch) AS b_sum,
    list(s) OVER (PARTITION BY k, epoch ORDER BY rn
                  ROWS BETWEEN 1 FOLLOWING AND 5 FOLLOWING) AS b_hist
  FROM base
), errs AS (
  SELECT k, t, v, rn, epoch, b_min, b_max, b_sum, b_hist,
         lead(rn) OVER w AS c_rn, lead(t) OVER w AS c_t, lead(v) OVER w AS c_v
  FROM epochstats WHERE s = 'ERROR'
  WINDOW w AS (PARTITION BY k ORDER BY rn)
), cands AS (
  SELECT *, epoch - row_number() OVER (PARTITION BY k ORDER BY epoch) AS grp
  FROM errs
  WHERE c_rn IS NOT NULL AND c_rn - rn - 1 BETWEEN 1 AND 5
    AND epoch_us(c_t) - epoch_us(t) <= 60000000
), matches AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY k, grp ORDER BY epoch) AS pos FROM cands
  ) WHERE pos % 2 = 1
)
SELECT k, t, c_rn - rn - 1, array_to_string(b_hist, '-'),
       least(v, c_v, b_min),
       floor((CAST(CAST(v AS DECIMAL(18,2)) + CAST(c_v AS DECIMAL(18,2)) + b_sum AS DOUBLE)
              / (c_rn - rn + 1)) * 100 + 0.5) / 100.0,
       greatest(v, c_v, b_max),
       CAST(floor((epoch_us(c_t) - epoch_us(t)) / 1000000.0 + 0.5) AS BIGINT)
FROM matches
"""

POINT = """
SELECT sensor_id, time, temperature, status FROM hist
WHERE sensor_id = '{sensor}' AND epoch_us(time) >= {lo} AND epoch_us(time) < {hi}
"""

ENRICH = """
SELECT c.customer_id, c.customer_name, count(*),
       floor(avg(e.temperature) * 100 + 0.5) / 100.0, max(e.temperature)
FROM export e
JOIN mapping m ON e.sensor_id = m.sensor_id
JOIN customers c ON m.customer_id = c.customer_id
GROUP BY c.customer_id, c.customer_name
"""

SQL = dict(flagship=FLAGSHIP, cep_adhoc=CEP, point=POINT, enrich=ENRICH, **PANELS)


def verify(dash):
    """Returns (ops correct, ops wrong, summary lines)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    files = ", ".join(f"'{f}'" for f in dash["history_files"])
    con.execute("CREATE VIEW hist AS SELECT sensor_id, CAST(time AS TIMESTAMP) AS time, "
                f"temperature, status FROM read_parquet([{files}])")
    con.execute("CREATE VIEW export AS SELECT sensor_id, temperature FROM read_parquet("
                f"'{dash['export_dir']}/*/*.parquet', hive_partitioning = true)")
    con.execute("CREATE VIEW mapping AS SELECT * FROM read_csv("
                f"'{dash['mapping_csv']}', header = true, all_varchar = true)")
    con.execute("CREATE VIEW customers AS SELECT * FROM read_csv("
                f"'{dash['customers_csv']}', header = true, all_varchar = true)")
    expected = {}
    ok, bad = {}, {}
    for op in dash["ops"]:
        key = (op["kind"], op["lo"], op["hi"], op["sensor"])
        if key not in expected:
            sql = SQL[op["kind"]].format(lo=op["lo"], hi=op["hi"], sensor=op["sensor"])
            expected[key] = fingerprint(con.execute(sql).fetchall())
        tally = ok if expected[key] == op["fp"] else bad
        tally[op["kind"]] = tally.get(op["kind"], 0) + 1
    con.close()
    lines = []
    for kind in SQL:
        n_ok, n_bad = ok.get(kind, 0), bad.get(kind, 0)
        if n_ok + n_bad:
            lines.append(f"dashboard {kind} equals its DuckDB formulation: "
                         f"{n_ok}/{n_ok + n_bad} correct")
    return sum(ok.values()), sum(bad.values()), lines
