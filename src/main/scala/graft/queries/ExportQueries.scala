package graft.queries

import graft.{QDef, Tables}
import graft.operators.TimeSeries.GridParams
import graft.streaming.Exporter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.time.LocalDate

/** C6/S6 — the scheduled incremental export, driven through the
  * correctness gate: backfill the January window set (the Airflow
  * catchup loop), re-run one window to exercise idempotent dynamic
  * partition overwrite, read the partitioned lake layout back and
  * hash-compare against a per-window DuckDB oracle. Each window's grid
  * is computed from the observations INSIDE the window — exactly the
  * semantics of the reference's independent 5-minute exports.
  */
object ExportQueries {

  private val P = GridParams(key = "user_id", time = "ts", value = "value",
    status = "event_type", step = "1 HOUR")

  /** 5 weekly [start, end) windows covering January 2024 (all SFs span
    * this month — TESTDATA.md). */
  private val windows: Seq[(String, String)] =
    (0 until 5).map { i =>
      val s = LocalDate.of(2024, 1, 1).plusDays(7L * i)
      (s.toString, s.plusDays(7).toString)
    }

  private def windowOracle(sfx: String, start: String, end: String): (String, String) = {
    val where = s" WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '$start'" +
      s" AND CAST(ts AS TIMESTAMP) < TIMESTAMP '$end'"
    val defs = TimeSeriesQueries.gridCteDefs(sfx, where)
    val key = s"${start}T00-00"
    val select =
      s"""SELECT '$key' AS partition_key, user_id, time, min(status) AS status,
         |       floor(avg(temperature) * 100 + 0.5) / 100.0 AS temperature
         |FROM gridded$sfx GROUP BY user_id, time""".stripMargin
    (defs, select)
  }

  /** Shared export-lake fixture (c6 and s23_hot_tier): the January
    * backfill plus one re-run window, materialized once per JVM. */
  private def exportLakeFixture(s: SparkSession, dir: String): String =
    Fixtures.dir("export_lake", dir) { o =>
      val events = Tables.events(s, dir)
      Exporter.backfillOnePass(events, P, o, windows)
      Exporter.backfillOnePass(events, P, o, Seq(windows(2)))
    }

  /** The export lake's full content, per-window oracles unioned —
    * shared by c6 (plain read) and s23 (tiered read), which must be
    * row-identical. */
  private lazy val exportLakeOracle: String = {
    val parts = windows.zipWithIndex.map { case ((st, en), i) =>
      windowOracle(s"_w$i", st, en)
    }
    val cte = "WITH " + parts.map(_._1).mkString(",\n")
    val body = parts.map(_._2).mkString("\nUNION ALL\n")
    s"""$cte
       |SELECT * FROM (
       |$body
       |)
       |ORDER BY partition_key, user_id, time""".stripMargin
  }

  /** Shared versioned-lake fixture (s14/s15 and their SQL-TVF forms):
    * v1 = raw events partitioned by day; v2 = the s13 merge algebra
    * (update %7, delete %13, insert %11 with shifted ids) committed on
    * top. Returns the lake directory. */
  private def versionedLakeFixture(s: SparkSession, dir: String): String = {
    val out = Fixtures.dir("versioned_lake", dir) { o =>
      val ev = Tables.events(s, dir)
        .withColumn("event_date", to_date(col("ts")).cast("string"))
      graft.sources.VersionedLake.create(ev, s"$o/lake", "event_date",
        blooms = Seq(graft.sources.VersionedLake.BloomSpec("event_id")))
      val scope = ev.filter(col("event_date") <= "2024-01-15")
      val changes = scope
        .filter(col("event_id") % 7 === 0 && col("event_id") % 13 =!= 0)
        .withColumn("event_type", lit("adjusted"))
        .withColumn("_deleted", lit(false))
        .unionByName(scope.filter(col("event_id") % 13 === 0)
          .withColumn("_deleted", lit(true)))
        .unionByName(scope.filter(col("event_id") % 11 === 0)
          .withColumn("event_id", col("event_id") + lit(1000000000L))
          .withColumn("event_type", lit("backfill"))
          .withColumn("_deleted", lit(false)))
      graft.sources.VersionedLake.mergeUpsert(
        s, s"$o/lake", changes, Seq("event_id"), "event_date")
    }
    s"$out/lake"
  }

  /** String-zone-map fixture: the documents table committed in three
    * lang-disjoint tranches (de+en, es+fr, zh), partitioned by
    * `source` — so every file's recorded string envelope for `lang`
    * covers at most two languages and a categorical predicate can
    * prove most files out from the manifest alone. coalesce(1) keeps
    * it one file per (commit, source): 60 files, of which a
    * `lang = 'en'` scan may open only the first tranche's 20. */
  private def stringZoneLakeFixture(s: SparkSession, dir: String): String = {
    val out = Fixtures.dir("string_zone_lake", dir) { o =>
      val docs = Tables.documents(s, dir)
      graft.sources.VersionedLake.create(
        docs.filter(col("lang").isin("de", "en")).coalesce(1), s"$o/lake", "source")
      graft.sources.VersionedLake.append(
        docs.filter(col("lang").isin("es", "fr")).coalesce(1), s"$o/lake", "source")
      graft.sources.VersionedLake.append(
        docs.filter(col("lang") === "zh").coalesce(1), s"$o/lake", "source")
    }
    s"$out/lake"
  }

  /** The s21 fixture: the SAME merge algebra as [[versionedLakeFixture]]
    * (so [[mergedCtes]] oracles apply), but the lake declares a
    * column-SET Bloom spec over TWO columns plus table properties at
    * create — the round-13 VersionedLake surface under gate. A separate
    * fixture because the shared one is pinned by s14–s16/q_sql_* and
    * must never be mutated. */
  private def multicolPointFixture(s: SparkSession, dir: String): String = {
    val out = Fixtures.dir("multicol_point", dir) { o =>
      val ev = Tables.events(s, dir)
        .withColumn("event_date", to_date(col("ts")).cast("string"))
      graft.sources.VersionedLake.create(ev, s"$o/lake", "event_date",
        blooms = Seq(graft.sources.VersionedLake.BloomSpec("event_id"),
          graft.sources.VersionedLake.BloomSpec("user_id")),
        props = Map("fixture" -> "s21", "partition" -> "event_date"))
      val scope = ev.filter(col("event_date") <= "2024-01-15")
      val changes = scope
        .filter(col("event_id") % 7 === 0 && col("event_id") % 13 =!= 0)
        .withColumn("event_type", lit("adjusted"))
        .withColumn("_deleted", lit(false))
        .unionByName(scope.filter(col("event_id") % 13 === 0)
          .withColumn("_deleted", lit(true)))
        .unionByName(scope.filter(col("event_id") % 11 === 0)
          .withColumn("event_id", col("event_id") + lit(1000000000L))
          .withColumn("event_type", lit("backfill"))
          .withColumn("_deleted", lit(false)))
      // the merge states no blooms/props of its own: both must be
      // INHERITED from the table spec (the round-13 carry-forward)
      graft.sources.VersionedLake.mergeUpsert(
        s, s"$o/lake", changes, Seq("event_id"), "event_date")
      val posts = graft.sources.VersionedLake
        .manifestEntries(s"$o/lake", 2)
      require(posts.forall(e => e.colBlooms.contains("event_id") &&
        e.colBlooms.contains("user_id")),
        "merge dropped the inherited multi-column Bloom spec")
    }
    s"$out/lake"
  }

  /** The fixture's two lake states as DuckDB CTEs (`ev` = v1,
    * `merged` = v2) — the prefix every versioned-lake oracle shares. */
  private val mergedCtes =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, value,
      |         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date
      |  FROM events),
      |scope AS (SELECT * FROM ev WHERE event_date <= '2024-01-15'),
      |changed AS (
      |  SELECT event_id, user_id, 'adjusted' AS event_type, value, event_date
      |  FROM scope WHERE event_id % 7 = 0 AND event_id % 13 <> 0
      |  UNION ALL
      |  SELECT event_id + 1000000000, user_id, 'backfill', value, event_date
      |  FROM scope WHERE event_id % 11 = 0),
      |removed AS (
      |  SELECT event_id FROM scope WHERE event_id % 13 = 0
      |  UNION ALL
      |  SELECT event_id FROM scope WHERE event_id % 7 = 0 AND event_id % 13 <> 0),
      |merged AS (
      |  SELECT * FROM ev WHERE event_id NOT IN (SELECT event_id FROM removed)
      |  UNION ALL SELECT * FROM changed)""".stripMargin

  /** Per-version aggregate oracle shared by s14 and its SQL-TVF form. */
  private val timeTravelOracle = mergedCtes +
    """,
      |v1 AS (
      |  SELECT CAST(1 AS BIGINT) AS version, event_date, count(*) AS n_rows,
      |         count(CASE WHEN event_type = 'adjusted' THEN 1 END) AS n_adjusted,
      |         count(CASE WHEN event_type = 'backfill' THEN 1 END) AS n_backfill,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |  FROM ev GROUP BY 2),
      |v2 AS (
      |  SELECT CAST(2 AS BIGINT) AS version, event_date, count(*) AS n_rows,
      |         count(CASE WHEN event_type = 'adjusted' THEN 1 END) AS n_adjusted,
      |         count(CASE WHEN event_type = 'backfill' THEN 1 END) AS n_backfill,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |  FROM merged GROUP BY 2)
      |SELECT * FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
      |ORDER BY version, event_date""".stripMargin

  /** Change-stream aggregate oracle shared by s15 and its SQL-TVF form. */
  private val versionDiffOracle =
    """WITH ev AS (
      |  SELECT event_id, event_type, value,
      |         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date
      |  FROM events),
      |scope AS (SELECT * FROM ev WHERE event_date <= '2024-01-15'),
      |changes AS (
      |  SELECT 'delete' AS _change, event_date, value FROM scope
      |  WHERE event_id % 13 = 0 OR (event_id % 7 = 0 AND event_id % 13 <> 0)
      |  UNION ALL
      |  SELECT 'insert', event_date, value FROM scope
      |  WHERE event_id % 7 = 0 AND event_id % 13 <> 0
      |  UNION ALL
      |  SELECT 'insert', event_date, value FROM scope
      |  WHERE event_id % 11 = 0)
      |SELECT _change, event_date, count(*) AS n_rows,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM changes GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def defs: Seq[QDef] = Seq(
    QDef(
      "c6_incremental_export",
      (s, dir) => {
        // the backfill is one windowed pass (every window's grid in a
        // single job); a scheduled single-window call of the same writer
        // then re-runs one window over it — idempotent dynamic overwrite
        // is inside the hash-checked gate. The lake materializes
        // once per JVM (Fixtures): repeated invocations are pure reads,
        // so bench times the read+sort, not two lake writes.
        Exporter.readExport(s, exportLakeFixture(s, dir))
          .select(col("partition_key").cast("string").as("partition_key"),
            col("user_id"), col("time"), col("status"), col("temperature"))
          .orderBy(col("partition_key"), col("user_id"), col("time"))
      },
      Some(exportLakeOracle)),

    // §1.6 hot/cold storage tiers: the SAME lake read through the
    // tiered path — partitions from window 3 on pinned in executor
    // memory (Timestream's memory store), older partitions scanned
    // from the lake (magnetic store). Tier-transparent by
    // construction, so the oracle is the plain export oracle: any
    // dropped/duplicated row at the tier seam is a hash mismatch.
    // Cache engagement and pruning are pinned in ExporterSpec.
    QDef(
      "s23_hot_tier",
      (s, dir) => {
        val out = exportLakeFixture(s, dir)
        Exporter.hotColdRead(s, out, hotCutoffKey = s"${windows(3)._1}T00-00")
          .select(col("partition_key").cast("string").as("partition_key"),
            col("user_id"), col("time"), col("status"), col("temperature"))
          .orderBy(col("partition_key"), col("user_id"), col("time"))
      },
      Some(exportLakeOracle)),

    // S6 faithful raw-prefix layout (timestream-airflow-demo.py:41-43):
    // two scheduled windows land under raw prefixes named by the export
    // key rule (YYYY-MM-DDTHH-mm for these weekly windows),
    // the crawler reads the whole lake in one pass and recovers the
    // window key from the path — hash-checked against the same
    // per-window oracle as the hive layout.
    QDef(
      "s6_raw_prefix_export",
      (s, dir) => {
        val out = Fixtures.dir("raw_prefix_lake", dir) { o =>
          val events = Tables.events(s, dir)
          windows.take(2).foreach { case (st, en) =>
            Exporter.exportWindowRawPrefix(events, P, o, st, en)
          }
        }
        Exporter.readRawPrefixExport(s, out)
          .select(col("partition_key"), col("user_id"), col("time"),
            col("status"), col("temperature"))
          .orderBy(col("partition_key"), col("user_id"), col("time"))
      },
      Some {
        val parts = windows.take(2).zipWithIndex.map { case ((st, en), i) =>
          windowOracle(s"_r$i", st, en)
        }
        val cte = "WITH " + parts.map(_._1).mkString(",\n")
        val body = parts.map(_._2).mkString("\nUNION ALL\n")
        s"""$cte
           |SELECT * FROM (
           |$body
           |)
           |ORDER BY partition_key, user_id, time""".stripMargin
      }),

    // Lake maintenance 1: small-file compaction. The fixture writes the
    // events lake the way a micro-batching sink leaves it (24 files per
    // date partition), compacts to one file per partition, and the gate
    // hash-checks the COMPACTED lake's per-date aggregate against the
    // source-of-truth oracle — layout changed, content provably not.
    // LakeOpsSpec asserts the file-count collapse and layout.
    QDef(
      "s9_compacted_lake",
      (s, dir) => {
        val out = Fixtures.dir("compact_lake", dir) { o =>
          Tables.events(s, dir)
            .withColumn("event_date", to_date(col("ts")).cast("string"))
            .repartition(24)
            .write.partitionBy("event_date").parquet(s"$o/src")
          graft.sources.LakeOps.compact(s, s"$o/src", s"$o/dst", Seq("event_date"))
        }
        s.read.parquet(s"$out/dst")
          .groupBy(col("event_date").cast("string").as("event_date"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("event_date"))
      },
      Some(
        """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date,
          |       count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
          |       count(DISTINCT user_id) AS n_users
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Lake maintenance 2: schema evolution, merge-on-read. Batch 1
    // predates the `quality` column; batch 2 carries it. The evolved
    // read unions by name (old rows surface nulls), and the gate checks
    // per-batch row counts, null accounting, and the new column's sum
    // against the oracle's re-derivation — no history rewrite anywhere.
    QDef(
      "s10_evolved_lake",
      (s, dir) => {
        val boundary = "2024-01-15"
        val out = Fixtures.dir("evolved_lake", dir) { o =>
          val ev = Tables.events(s, dir)
          ev.filter(col("ts") < lit(boundary).cast("timestamp"))
            .drop("props")
            .write.parquet(s"$o/batch=1")
          ev.filter(col("ts") >= lit(boundary).cast("timestamp"))
            .withColumn("quality",
              pmod(round(col("value") * 100).cast("long"), lit(5L)))
            .write.parquet(s"$o/batch=2")
        }
        graft.sources.LakeOps.readEvolved(s, out)
          .groupBy(col("batch"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(when(col("quality").isNull, lit(1))).as("n_quality_null"),
            sum(col("quality")).as("sum_quality"))
          .orderBy(col("batch"))
      },
      Some(
        """WITH e AS (
          |  SELECT value,
          |         CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15'
          |              THEN 1 ELSE 2 END AS batch
          |  FROM events)
          |SELECT batch, count(*) AS n_rows,
          |       count(CASE WHEN batch = 1 THEN 1 END) AS n_quality_null,
          |       CAST(sum(CASE WHEN batch = 2
          |                     THEN CAST(round(value * 100) AS BIGINT) % 5 END)
          |            AS BIGINT) AS sum_quality
          |FROM e GROUP BY batch ORDER BY batch""".stripMargin)),

    // §1.6 retention as a GATE (was spec-only): both lake layouts are
    // built, partitions below a cutoff are expired, and the SURVIVING
    // lakes' per-partition aggregates hash-check against an oracle
    // re-deriving the same windows from source — proving expiry
    // removed exactly the partitions below the cutoff and byte-touched
    // nothing else. The Spark analog of Timestream's magnetic-store
    // retention (README.md:87-90: configurable retention per table).
    QDef(
      "s11_retention_expiry",
      (s, dir) => {
        val lakes = Fixtures.dir("retention_lakes", dir) { o =>
          val events = Tables.events(s, dir)
          // hive layout: all five weekly windows, expire the first two
          Exporter.backfillOnePass(events, P, s"$o/hive", windows)
          Exporter.dropPartitionsOlderThan(s, s"$o/hive", s"${windows(2)._1}T00-00")
          // raw-prefix layout: two windows, expire the first
          windows.take(2).foreach { case (st, en) =>
            Exporter.exportWindowRawPrefix(events, P, s"$o/raw", st, en)
          }
          Exporter.dropPartitionsOlderThan(s, s"$o/raw", s"${windows(1)._1}T00-00")
        }
        val hive = Exporter.readExport(s, s"$lakes/hive")
          .select(lit("hive").as("layout"),
            col("partition_key").cast("string").as("partition_key"),
            col("user_id"), col("temperature"))
        val raw = Exporter.readRawPrefixExport(s, s"$lakes/raw")
          .select(lit("raw").as("layout"), col("partition_key"),
            col("user_id"), col("temperature"))
        hive.unionByName(raw)
          .groupBy(col("layout"), col("partition_key"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(round(col("temperature") * 100).cast("long")).as("sum_cents"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("layout"), col("partition_key"))
      },
      Some {
        val survivors =
          windows.drop(2).map(("hive", _)) ++ Seq(("raw", windows(1)))
        val parts = survivors.zipWithIndex.map { case ((layout, (st, en)), i) =>
          val where = s" WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '$st'" +
            s" AND CAST(ts AS TIMESTAMP) < TIMESTAMP '$en'"
          val defs = TimeSeriesQueries.gridCteDefs(s"_rt$i", where)
          val select =
            s"""SELECT '$layout' AS layout, '${st}T00-00' AS partition_key,
               |       count(*) AS n_rows,
               |       CAST(sum(CAST(round(temperature * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
               |       count(DISTINCT user_id) AS n_users
               |FROM (
               |  SELECT user_id, time, floor(avg(temperature) * 100 + 0.5) / 100.0 AS temperature
               |  FROM gridded_rt$i GROUP BY user_id, time
               |)""".stripMargin
          (defs, select)
        }
        s"""WITH ${parts.map(_._1).mkString(",\n")}
           |SELECT * FROM (
           |${parts.map(_._2).mkString("\nUNION ALL\n")}
           |)
           |ORDER BY layout, partition_key""".stripMargin
      }),

    // The reference's AD-HOC export DAG
    // (mwaa/mwaa-cdk/dags/timestream-airflow-glue-adhoc.py:45-47): a
    // sliding now()-offset window resolved AT RUN TIME — the
    // deliberately non-idempotent contrast to c6's fixed [start, end)
    // (re-running it under a moving clock lands a different window).
    // Composed here from the dialect's ago()/ts_now() under the shared
    // frozen gate clock, widened from the DAG's 65m..60m offsets to
    // 48h..24h so every SF has observations inside the window; the
    // export itself is the same idempotent-per-key writer over one window.
    QDef(
      "c7_adhoc_export",
      (s, dir) => {
        s.conf.set(graft.functions.Dialect.ClockKey, DialectQueries.FrozenNow)
        val b = s.sql(
          "SELECT date_format(ago('48h'), 'yyyy-MM-dd HH:mm:ss') AS st, " +
            "date_format(ago('24h'), 'yyyy-MM-dd HH:mm:ss') AS en").head()
        val (st, en) = (b.getString(0), b.getString(1))
        val out = Fixtures.dir("adhoc_export", dir) { o =>
          Exporter.backfillOnePass(Tables.events(s, dir), P, o, Seq((st, en)))
        }
        Exporter.readExport(s, out)
          .select(col("partition_key").cast("string").as("partition_key"),
            col("user_id"), col("time"), col("status"), col("temperature"))
          .orderBy(col("user_id"), col("time"))
      },
      Some {
        // FrozenNow − 48h .. − 24h, resolved statically for the oracle
        val where = " WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-29 00:00:00'" +
          " AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-30 00:00:00'"
        s"""WITH ${TimeSeriesQueries.gridCteDefs("_ad", where)}
           |SELECT '2024-01-29T00-00' AS partition_key, user_id, time,
           |       min(status) AS status,
           |       floor(avg(temperature) * 100 + 0.5) / 100.0 AS temperature
           |FROM gridded_ad GROUP BY user_id, time
           |ORDER BY user_id, time""".stripMargin
      }),

    // Lake maintenance 3: Z-order clustering. The fixture rewrites the
    // events lake along the Morton curve of (user_id, day) — the
    // data-layout half of pruning, where a box predicate on either
    // dimension skips files via parquet min/max stats instead of
    // scanning the lake. Content must survive the rewrite untouched:
    // the gate hash-checks the clustered lake's per-type aggregate
    // against the source-of-truth oracle (LakeOpsSpec measures the
    // actual file-skipping win).
    QDef(
      "s12_zordered_lake",
      (s, dir) => {
        val out = Fixtures.dir("zorder_lake", dir) { o =>
          val ev = Tables.events(s, dir).withColumn("day",
            datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).cast("long"))
          graft.sources.LakeOps.zorderWrite(ev, "user_id", "day", s"$o/z", numFiles = 16)
        }
        s.read.parquet(s"$out/z")
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
          |       count(DISTINCT user_id) AS n_users
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Lake maintenance 4: copy-on-write MERGE. The fixture builds the
    // date-partitioned events lake, then applies one change-set to the
    // first half of January: event_id%7 rows re-typed 'adjusted'
    // (update in place), %13 rows deleted, %11 rows re-inserted under
    // a fresh key as 'backfill'. Only touched partitions rewrite
    // (LakeOpsSpec pins untouched-partition files byte-identical); the
    // gate hash-checks the MERGED lake's per-date accounting against
    // an oracle replaying the same upsert/delete/insert algebra from
    // source — update, delete, and insert effects all land in the hash.
    QDef(
      "s13_upsert_lake",
      (s, dir) => {
        val out = Fixtures.dir("upsert_lake", dir) { o =>
          val ev = Tables.events(s, dir)
            .withColumn("event_date", to_date(col("ts")).cast("string"))
          ev.write.partitionBy("event_date").parquet(s"$o/lake")
          val scope = ev.filter(col("event_date") <= "2024-01-15")
          val changes = scope
            .filter(col("event_id") % 7 === 0 && col("event_id") % 13 =!= 0)
            .withColumn("event_type", lit("adjusted"))
            .withColumn("_deleted", lit(false))
            .unionByName(scope.filter(col("event_id") % 13 === 0)
              .withColumn("_deleted", lit(true)))
            .unionByName(scope.filter(col("event_id") % 11 === 0)
              .withColumn("event_id", col("event_id") + lit(1000000000L))
              .withColumn("event_type", lit("backfill"))
              .withColumn("_deleted", lit(false)))
          graft.sources.LakeOps.mergeUpsert(
            s, s"$o/lake", changes, Seq("event_id"), "event_date")
        }
        s.read.parquet(s"$out/lake")
          .groupBy(col("event_date").cast("string").as("event_date"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(when(col("event_type") === "adjusted", lit(1))).as("n_adjusted"),
            count(when(col("event_type") === "backfill", lit(1))).as("n_backfill"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("event_date"))
      },
      Some(
        """WITH ev AS (
          |  SELECT event_id, user_id, event_type, value,
          |         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date
          |  FROM events),
          |scope AS (SELECT * FROM ev WHERE event_date <= '2024-01-15'),
          |changed AS (
          |  SELECT event_id, user_id, 'adjusted' AS event_type, value, event_date
          |  FROM scope WHERE event_id % 7 = 0 AND event_id % 13 <> 0
          |  UNION ALL
          |  SELECT event_id + 1000000000, user_id, 'backfill', value, event_date
          |  FROM scope WHERE event_id % 11 = 0),
          |removed AS (
          |  SELECT event_id FROM scope WHERE event_id % 13 = 0
          |  UNION ALL
          |  SELECT event_id FROM scope WHERE event_id % 7 = 0 AND event_id % 13 <> 0),
          |merged AS (
          |  SELECT * FROM ev WHERE event_id NOT IN (SELECT event_id FROM removed)
          |  UNION ALL SELECT * FROM changed)
          |SELECT event_date, count(*) AS n_rows,
          |       count(CASE WHEN event_type = 'adjusted' THEN 1 END) AS n_adjusted,
          |       count(CASE WHEN event_type = 'backfill' THEN 1 END) AS n_backfill,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
          |       count(DISTINCT user_id) AS n_users
          |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Lake maintenance 5: snapshot versioning + time travel. The same
    // merge algebra as s13, but committed as a VERSION of a
    // manifest-tracked lake: v1 is the pre-merge snapshot, v2 the
    // merged one, and both are read back FROM THE SAME LAKE after the
    // merge — the gate hashes v1's aggregate (proving the merge did
    // not disturb history) and v2's (proving the merge applied)
    // against per-version oracles. Untouched-partition file reuse and
    // manifest-level pruning are pinned in VersionedLakeSpec.
    QDef(
      "s14_time_travel",
      (s, dir) => {
        val lake = versionedLakeFixture(s, dir)
        def versionAgg(v: Int) =
          graft.sources.VersionedLake.read(s, lake, Some(v))
            .groupBy(col("event_date").cast("string").as("event_date"))
            .agg(
              count(lit(1)).as("n_rows"),
              count(when(col("event_type") === "adjusted", lit(1))).as("n_adjusted"),
              count(when(col("event_type") === "backfill", lit(1))).as("n_backfill"),
              sum(round(col("value") * 100).cast("long")).as("sum_cents"))
            .withColumn("version", lit(v.toLong))
        versionAgg(1).unionByName(versionAgg(2))
          .select(col("version"), col("event_date"), col("n_rows"),
            col("n_adjusted"), col("n_backfill"), col("sum_cents"))
          .orderBy(col("version"), col("event_date"))
      },
      Some(timeTravelOracle)),

    // The same per-version aggregates reached purely from SQL text via
    // the time_travel TVF (PipelineSql) — proving the lake is
    // SQL-first like every other capability, against the identical
    // oracle as s14.
    QDef(
      "q_sql_time_travel",
      (s, dir) => {
        val lake = versionedLakeFixture(s, dir)
        def leg(v: Int) =
          s"""SELECT CAST($v AS BIGINT) AS version,
             |       CAST(event_date AS STRING) AS event_date,
             |       count(*) AS n_rows,
             |       count(CASE WHEN event_type = 'adjusted' THEN 1 END) AS n_adjusted,
             |       count(CASE WHEN event_type = 'backfill' THEN 1 END) AS n_backfill,
             |       sum(CAST(round(value * 100) AS BIGINT)) AS sum_cents
             |FROM time_travel('$lake', $v)
             |GROUP BY CAST(event_date AS STRING)""".stripMargin
        s.sql(
          s"""SELECT * FROM (${leg(1)} UNION ALL ${leg(2)})
             |ORDER BY version, event_date""".stripMargin)
      },
      Some(timeTravelOracle)),

    // Lake maintenance 6: changed-data capture between versions. The
    // diff reads ONLY files present in exactly one manifest (untouched
    // partitions contribute zero I/O) and resolves row-level changes
    // with EXCEPT ALLs — updates decompose into delete+insert. The
    // oracle re-derives the exact change algebra the s14 merge
    // applied, so the CDC stream is hash-checked end to end.
    QDef(
      "s15_version_diff",
      (s, dir) => {
        graft.sources.VersionedLake.diff(s, versionedLakeFixture(s, dir), 1, 2)
          .groupBy(col("_change"), col("event_date").cast("string").as("event_date"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents"))
          .orderBy(col("_change"), col("event_date"))
      },
      Some(versionDiffOracle)),

    // The CDC stream reached purely from SQL text via the version_diff
    // TVF — same manifest-pruned plan, same oracle as s15.
    QDef(
      "q_sql_version_diff",
      (s, dir) => {
        val lake = versionedLakeFixture(s, dir)
        s.sql(
          s"""SELECT _change, CAST(event_date AS STRING) AS event_date,
             |       count(*) AS n_rows,
             |       sum(CAST(round(value * 100) AS BIGINT)) AS sum_cents
             |FROM version_diff('$lake', 1, 2)
             |GROUP BY _change, CAST(event_date AS STRING)
             |ORDER BY _change, event_date""".stripMargin)
      },
      Some(versionDiffOracle)),

    // Lake maintenance 7: per-file Bloom point-lookup. The fixture's
    // commits record an event_id Bloom per file; readPoint prunes the
    // file list on the driver from manifest metadata alone (the
    // point-lookup complement of the s14 zone maps — skipping pinned
    // in VersionedLakeSpec). The probe is the smallest surviving
    // event_id, derived identically by both engines; the exact row
    // filter on top makes Bloom false positives invisible.
    QDef(
      "s16_bloom_point_read",
      (s, dir) => {
        val lake = versionedLakeFixture(s, dir)
        val probe = Tables.events(s, dir)
          .filter(col("event_id") % 13 =!= 0)
          .agg(min(col("event_id"))).head().getLong(0)
        graft.sources.VersionedLake.readPoint(s, lake, "event_id", probe.toString, None)
          .filter(col("event_id") === probe)
          .select(col("event_id"), col("user_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("value_cents"),
            col("event_date").cast("string").as("event_date"))
          .orderBy(col("event_id"))
      },
      Some(mergedCtes +
        """
          |SELECT event_id, user_id, event_type,
          |       CAST(round(value * 100) AS BIGINT) AS value_cents, event_date
          |FROM merged
          |WHERE event_id = (SELECT min(event_id) FROM events WHERE event_id % 13 <> 0)
          |ORDER BY event_id""".stripMargin)),

    // The zone-map range read reached purely from SQL text via the
    // read_range TVF: the fixture's commits record per-file min/max of
    // `value`, the TVF prunes the file list from manifest metadata
    // alone, and the exact row predicate on top makes file-boundary
    // conservatism invisible — hash-checked against the oracle's plain
    // range filter over the same merged state. (Planning-time skip
    // sets are pinned in VersionedLakeSpec; this gate proves the SQL
    // surface returns exactly the right ROWS.)
    QDef(
      "q_sql_read_range",
      (s, dir) => {
        val lake = versionedLakeFixture(s, dir)
        s.sql(
          s"""SELECT CAST(event_date AS STRING) AS event_date,
             |       count(*) AS n_rows,
             |       sum(CAST(round(value * 100) AS BIGINT)) AS sum_cents
             |FROM read_range('$lake', 'value', 40.0D, 120.0D)
             |WHERE value >= 40.0 AND value <= 120.0
             |GROUP BY CAST(event_date AS STRING)
             |ORDER BY event_date""".stripMargin)
      },
      Some(mergedCtes +
        """
          |SELECT event_date, count(*) AS n_rows,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM merged
          |WHERE value >= 40.0 AND value <= 120.0
          |GROUP BY event_date ORDER BY event_date""".stripMargin)),

    // The same range answered with NO explicit range TVF: a plain
    // WHERE over time_travel(...), file-skipped AUTOMATICALLY by the
    // ZoneMapPrune optimizer rule (part of the installed engine, no
    // off switch) — the planner half of read_range, deciding each
    // file with the same VersionedLake.admits test. Hash-equality
    // against the same oracle is the CORRECTNESS guard an optimizer
    // rule needs: the rewrite may only move I/O, never rows
    // (planning-time skip sets are pinned in PlanSpec; this gate
    // proves row exactness at the verified dataset's scale).
    QDef(
      "q_sql_zonemap_auto",
      (s, dir) => {
        val lake = versionedLakeFixture(s, dir)
        val v = graft.sources.VersionedLake.currentVersion(lake)
        s.sql(
          s"""SELECT CAST(event_date AS STRING) AS event_date,
             |       count(*) AS n_rows,
             |       sum(CAST(round(value * 100) AS BIGINT)) AS sum_cents
             |FROM time_travel('$lake', $v)
             |WHERE value >= 40.0 AND value <= 120.0
             |GROUP BY CAST(event_date AS STRING)
             |ORDER BY event_date""".stripMargin)
      },
      Some(mergedCtes +
        """
          |SELECT event_date, count(*) AS n_rows,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM merged
          |WHERE value >= 40.0 AND value <= 120.0
          |GROUP BY event_date ORDER BY event_date""".stripMargin)),

    // COUNT(*) answered from the MANIFEST's recorded per-file row
    // counts — the LakeAggregateFromManifest optimizer rule (the
    // planner half of lake_row_count, the way ZoneMapPrune is
    // read_range's).
    // Both versions' bare counts take the metadata path (PlanSpec pins
    // the scan-free plan); the third leg filters, which the rule must
    // NOT touch — its count comes from the real scan, and all three
    // hash against the oracle's recompute. A manifest row count that
    // drifted from the data would split the legs apart here.
    QDef(
      "q_sql_count_meta",
      (s, dir) => {
        val lake = versionedLakeFixture(s, dir)
        def bare(v: Int) = s.sql(
          s"""SELECT CAST($v AS BIGINT) AS version, count(*) AS n_rows
             |FROM time_travel('$lake', $v)""".stripMargin)
        val filtered = s.sql(
          s"""SELECT CAST(3 AS BIGINT) AS version, count(*) AS n_rows
             |FROM time_travel('$lake', 2)
             |WHERE value >= 40.0 AND value <= 120.0""".stripMargin)
        // null-sensitive count(col): folds as rows − recorded per-file
        // null counts (scan-free — PlanSpec pins the plan)
        val colCount = s.sql(
          s"""SELECT CAST(4 AS BIGINT) AS version, count(event_type) AS n_rows
             |FROM time_travel('$lake', 2)""".stripMargin)
        bare(1).unionByName(bare(2)).unionByName(filtered)
          .unionByName(colCount)
          .orderBy(col("version"))
      },
      Some(mergedCtes +
        """
          |SELECT * FROM (
          |  SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows FROM ev
          |  UNION ALL
          |  SELECT CAST(2 AS BIGINT), count(*) FROM merged
          |  UNION ALL
          |  SELECT CAST(3 AS BIGINT), count(*) FROM merged
          |  WHERE value >= 40.0 AND value <= 120.0
          |  UNION ALL
          |  SELECT CAST(4 AS BIGINT), count(event_type) FROM merged)
          |ORDER BY version""".stripMargin)),

    // Bloom point lookup through PLAIN SQL: the s16 probe expressed as
    // `WHERE event_id = <key>` over time_travel, file-skipped
    // AUTOMATICALLY by ZoneMapPrune's Bloom probing (the planner twin
    // of read_point — the explicit TVF stays). Same oracle as s16: a
    // Bloom false negative, a mis-rendered probe key, or a stale
    // filter after the merge commit is a hash mismatch (false
    // POSITIVES are invisible — the exact row predicate still runs).
    // Plan-level skip counts are pinned in PlanSpec's bloom test.
    QDef(
      "q_sql_bloom_auto",
      (s, dir) => {
        val lake = versionedLakeFixture(s, dir)
        val v = graft.sources.VersionedLake.currentVersion(lake)
        val probe = Tables.events(s, dir)
          .filter(col("event_id") % 13 =!= 0)
          .agg(min(col("event_id"))).head().getLong(0)
        s.sql(
          s"""SELECT event_id, user_id, event_type,
             |       CAST(round(value * 100) AS BIGINT) AS value_cents,
             |       CAST(event_date AS STRING) AS event_date
             |FROM time_travel('$lake', $v)
             |WHERE event_id = $probe
             |ORDER BY event_id""".stripMargin)
      },
      Some(mergedCtes +
        """
          |SELECT event_id, user_id, event_type,
          |       CAST(round(value * 100) AS BIGINT) AS value_cents, event_date
          |FROM merged
          |WHERE event_id = (SELECT min(event_id) FROM events WHERE event_id % 13 <> 0)
          |ORDER BY event_id""".stripMargin)),

    // MIN/MAX answered from the MANIFEST's per-file zone maps — the
    // same LakeAggregateFromManifest rule, completing the metadata family
    // (COUNT from row counts, files from zone maps, now extrema from
    // zone maps). Versions 1 and 2 fold scan-free (PlanSpec pins the
    // plan shape); the third leg filters, which the rule must NOT
    // touch — its extrema come from the real scan. All three legs
    // hash against DuckDB's recompute: a manifest stat that drifted
    // from the data (or a fold that lost a commit's files) splits the
    // legs apart here.
    QDef(
      "q_sql_minmax_meta",
      (s, dir) => {
        val lake = versionedLakeFixture(s, dir)
        def leg(tag: Int, v: Int, where: String) = s.sql(
          s"""SELECT CAST($tag AS BIGINT) AS version,
             |       CAST(round(min(value) * 100) AS BIGINT) AS min_cents,
             |       CAST(round(max(value) * 100) AS BIGINT) AS max_cents,
             |       min(event_id) AS min_id, max(event_id) AS max_id,
             |       count(*) AS n_rows
             |FROM time_travel('$lake', $v)$where""".stripMargin)
        leg(1, 1, "").unionByName(leg(2, 2, ""))
          .unionByName(leg(3, 2, "\nWHERE value >= 40.0 AND value <= 120.0"))
          .orderBy(col("version"))
      },
      Some(mergedCtes +
        """
          |SELECT * FROM (
          |  SELECT CAST(1 AS BIGINT) AS version,
          |         CAST(round(min(value) * 100) AS BIGINT) AS min_cents,
          |         CAST(round(max(value) * 100) AS BIGINT) AS max_cents,
          |         min(event_id) AS min_id, max(event_id) AS max_id,
          |         count(*) AS n_rows
          |  FROM ev
          |  UNION ALL
          |  SELECT CAST(2 AS BIGINT), CAST(round(min(value) * 100) AS BIGINT),
          |         CAST(round(max(value) * 100) AS BIGINT),
          |         min(event_id), max(event_id), count(*)
          |  FROM merged
          |  UNION ALL
          |  SELECT CAST(3 AS BIGINT), CAST(round(min(value) * 100) AS BIGINT),
          |         CAST(round(max(value) * 100) AS BIGINT),
          |         min(event_id), max(event_id), count(*)
          |  FROM merged WHERE value >= 40.0 AND value <= 120.0)
          |ORDER BY version""".stripMargin)),

    // STRING zone maps: commits record a truncated [min, max] envelope
    // per string column, and categorical predicates — the most common
    // filters in a curation pipeline (`lang = 'en'`) — skip files from
    // the manifest alone, through four surfaces at once: the eq, in,
    // and pfx legs ride the automatic ZoneMapPrune rule over a plain
    // WHERE (per-value IN testing, not just the range envelope;
    // LIKE 'e%' via the StartsWith → [p, upperBound(p)) range), the
    // rng leg the read_range TVF's string form. The fixture's commits
    // are lang-disjoint so the skip is provable (PlanSpec pins the
    // pruned file counts); hash-equality against DuckDB's plain
    // filters over the raw table proves pruning moved I/O, never rows.
    QDef(
      "q_sql_zonemap_string",
      (s, dir) => {
        val lake = stringZoneLakeFixture(s, dir)
        val v = graft.sources.VersionedLake.currentVersion(lake)
        s.sql(
          s"""SELECT * FROM (
             |  SELECT 'eq' AS leg, source, count(*) AS n_docs,
             |         sum(n_chars) AS sum_chars
             |  FROM time_travel('$lake', $v) WHERE lang = 'en'
             |  GROUP BY source
             |  UNION ALL
             |  SELECT 'in', source, count(*), sum(n_chars)
             |  FROM time_travel('$lake', $v) WHERE lang IN ('de', 'zh')
             |  GROUP BY source
             |  UNION ALL
             |  SELECT 'pfx', source, count(*), sum(n_chars)
             |  FROM time_travel('$lake', $v) WHERE lang LIKE 'e%'
             |  GROUP BY source
             |  UNION ALL
             |  SELECT 'rng', source, count(*), sum(n_chars)
             |  FROM read_range('$lake', 'lang', 'es', 'fr')
             |  WHERE lang >= 'es' AND lang <= 'fr'
             |  GROUP BY source)
             |ORDER BY leg, source""".stripMargin)
      },
      Some(
        """SELECT * FROM (
          |  SELECT 'eq' AS leg, source, count(*) AS n_docs,
          |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |  FROM documents WHERE lang = 'en' GROUP BY source
          |  UNION ALL
          |  SELECT 'in', source, count(*), CAST(sum(n_chars) AS BIGINT)
          |  FROM documents WHERE lang IN ('de', 'zh') GROUP BY source
          |  UNION ALL
          |  SELECT 'pfx', source, count(*), CAST(sum(n_chars) AS BIGINT)
          |  FROM documents WHERE lang LIKE 'e%' GROUP BY source
          |  UNION ALL
          |  SELECT 'rng', source, count(*), CAST(sum(n_chars) AS BIGINT)
          |  FROM documents WHERE lang >= 'es' AND lang <= 'fr' GROUP BY source)
          |ORDER BY leg, source""".stripMargin)),

    // Lake maintenance 8: small-file COMPACTION committed as a version
    // under optimistic concurrency. The fixture leaves the lake the way
    // a streaming sink does (two multi-file commits fragment every date
    // partition), then compactPartitions rewrites each partition into
    // one file and commits it as v3 — the builder require()s the
    // file-count collapse, and the gate hashes BOTH the pre-compaction
    // version's aggregate and the post-compaction one against a single
    // oracle: identical legs prove the rewrite moved bytes, not
    // content, and that history stayed time-travel readable. Conflict
    // aborts, metadata re-recording, and vacuum of superseded files
    // are pinned in VersionedLakeSpec.
    QDef(
      "s17_compacted_versions",
      (s, dir) => {
        val lake = {
          val out = Fixtures.dir("compacted_versions", dir) { o =>
            val ev = Tables.events(s, dir)
              .withColumn("event_date", to_date(col("ts")).cast("string"))
            val boundary = "2024-01-15"
            graft.sources.VersionedLake.create(
              ev.filter(col("event_date") <= boundary).repartition(6),
              s"$o/lake", "event_date")
            graft.sources.VersionedLake.append(
              ev.filter(col("event_date") > boundary).repartition(6),
              s"$o/lake", "event_date")
            val v = graft.sources.VersionedLake.compactPartitions(
              s, s"$o/lake", "event_date")
            require(v == 3, s"expected compaction to commit v3, got v$v")
            val post = graft.sources.VersionedLake.manifestEntries(s"$o/lake", 3)
            require(post.groupBy(_.partition).forall(_._2.size == 1),
              "compaction left a multi-file partition")
          }
          s"$out/lake"
        }
        def agg(v: Int) =
          graft.sources.VersionedLake.read(s, lake, Some(v))
            .groupBy(col("event_date").cast("string").as("event_date"))
            .agg(
              count(lit(1)).as("n_rows"),
              sum(round(col("value") * 100).cast("long")).as("sum_cents"),
              countDistinct(col("user_id")).as("n_users"))
            .withColumn("version", lit(v.toLong))
        agg(2).unionByName(agg(3))
          .select(col("version"), col("event_date"), col("n_rows"),
            col("sum_cents"), col("n_users"))
          .orderBy(col("version"), col("event_date"))
      },
      Some(
        """WITH ev AS (
          |  SELECT user_id, value,
          |         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date
          |  FROM events),
          |agg AS (
          |  SELECT event_date, count(*) AS n_rows,
          |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
          |         count(DISTINCT user_id) AS n_users
          |  FROM ev GROUP BY 1)
          |SELECT * FROM (
          |  SELECT CAST(2 AS BIGINT) AS version, * FROM agg
          |  UNION ALL
          |  SELECT CAST(3 AS BIGINT) AS version, * FROM agg)
          |ORDER BY version, event_date""".stripMargin)),

    // Lake maintenance 9: the incrementally-maintained materialized
    // aggregate. The fixture commits the events lake, applies the s13
    // merge algebra as v2, and folds BOTH versions' change feeds into
    // a per-type SUM/COUNT view (integer cents, so incremental folds
    // are bit-exact) — the gate hashes the maintained view against the
    // oracle's one-shot recompute over the merged state, proving
    // bootstrap fold + delta fold + delete handling end to end.
    // Exactly-once replay and emptied-group deletion are pinned in
    // MaterializedAggSpec.
    QDef(
      "s18_materialized_view",
      (s, dir) => {
        val out = Fixtures.dir("mview", dir) { o =>
          val ev = Tables.events(s, dir)
            .withColumn("event_date", to_date(col("ts")).cast("string"))
            .select(col("event_id"), col("user_id"), col("event_type"),
              round(col("value") * 100).cast("long").as("value_cents"),
              col("event_date"))
          graft.sources.VersionedLake.create(ev, s"$o/src", "event_date")
          val scope = ev.filter(col("event_date") <= "2024-01-15")
          val changes = scope
            .filter(col("event_id") % 7 === 0 && col("event_id") % 13 =!= 0)
            .withColumn("event_type", lit("adjusted"))
            .withColumn("_deleted", lit(false))
            .unionByName(scope.filter(col("event_id") % 13 === 0)
              .withColumn("_deleted", lit(true)))
            .unionByName(scope.filter(col("event_id") % 11 === 0)
              .withColumn("event_id", col("event_id") + lit(1000000000L))
              .withColumn("event_type", lit("backfill"))
              .withColumn("_deleted", lit(false)))
          graft.sources.VersionedLake.mergeUpsert(
            s, s"$o/src", changes, Seq("event_id"), "event_date")
          graft.streaming.MaterializedAgg.maintain(s, s"$o/src",
            s"$o/state", s"$o/view",
            groupCols = Seq("event_type"), valueCol = "value_cents",
            partitionCol = "event_type")
        }
        graft.sources.VersionedLake.read(s, s"$out/view")
          .select(col("event_type").cast("string").as("event_type"),
            col("agg_sum").cast("long").as("sum_cents"), col("agg_count"))
          .orderBy(col("event_type"))
      },
      Some(
        """WITH ev AS (
          |  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents,
          |         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date
          |  FROM events),
          |scope AS (SELECT * FROM ev WHERE event_date <= '2024-01-15'),
          |changed AS (
          |  SELECT event_id, 'adjusted' AS event_type, cents
          |  FROM scope WHERE event_id % 7 = 0 AND event_id % 13 <> 0
          |  UNION ALL
          |  SELECT event_id + 1000000000, 'backfill', cents
          |  FROM scope WHERE event_id % 11 = 0),
          |removed AS (
          |  SELECT event_id FROM scope WHERE event_id % 13 = 0
          |  UNION ALL
          |  SELECT event_id FROM scope WHERE event_id % 7 = 0 AND event_id % 13 <> 0),
          |merged AS (
          |  SELECT event_type, cents FROM ev
          |  WHERE event_id NOT IN (SELECT event_id FROM removed)
          |  UNION ALL SELECT event_type, cents FROM changed)
          |SELECT event_type, CAST(sum(cents) AS BIGINT) AS sum_cents,
          |       count(*) AS agg_count
          |FROM merged GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Incremental materialized view, DISTINCT leg: the view maintains
    // an HLL register array per group (insert ticks merge registers by
    // element-wise max — no source I/O; delete-touched groups re-read,
    // riding the min/max machinery), answering the canonical
    // "distinct users per event type" question the SUM/COUNT family
    // cannot. The source takes a create + a CDC-heavy merge (deletes
    // that remove users entirely, updates that MOVE rows between
    // groups); the maintained registers' estimates must then equal the
    // one-shot md5-HLL the oracle replays bit-for-bit over the merged
    // state (Sketch's exactness discipline — BIGINT-scaled harmonic
    // sum, one final double divide). Register-level parity and
    // exactly-once replay are pinned in MaterializedAggSpec.
    QDef(
      "s22_distinct_view",
      (s, dir) => {
        import graft.streaming.MaterializedAgg
        val out = Fixtures.dir("hll_mview", dir) { o =>
          val ev = Tables.events(s, dir)
            .select(col("event_id"), col("event_type"), col("user_id"),
              round(col("value") * 100).cast("long").as("value_cents"),
              to_date(col("ts")).cast("string").as("event_date"))
          graft.sources.VersionedLake.create(ev, s"$o/src", "event_date")
          val changes = ev.filter(col("user_id") % 5 === 0)
            .withColumn("_deleted", lit(true))
            .unionByName(
              ev.filter(col("user_id") % 5 =!= 0 && col("event_id") % 7 === 0)
                .withColumn("event_type", lit("adjusted"))
                .withColumn("_deleted", lit(false)))
          graft.sources.VersionedLake.mergeUpsert(
            s, s"$o/src", changes, Seq("event_id"), "event_date")
          MaterializedAgg.maintain(s, s"$o/src", s"$o/state", s"$o/view",
            groupCols = Seq("event_type"), valueCol = "value_cents",
            partitionCol = "event_type",
            hllCol = Some("user_id"), hllP = 5)
        }
        val est = graft.sources.VersionedLake.read(s, s"$out/view")
          .select(col("event_type").cast("string").as("event_type"),
            graft.streaming.MaterializedAgg.hllEstimate(
              col(graft.streaming.MaterializedAgg.HllRegsCol), 5)
              .as("hll_estimate"))
        val exact = graft.sources.VersionedLake.read(s, s"$out/src")
          .groupBy(col("event_type").cast("string").as("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_distinct"))
        est.join(exact, Seq("event_type"))
          .withColumn("rel_err_pct", graft.functions.Arith.r2(
            (col("hll_estimate") - col("exact_distinct")) * 100.0 /
              col("exact_distinct")))
          .orderBy(col("event_type"))
      },
      Some(graft.operators.Sketch.hllOracleSql(
        "(SELECT CASE WHEN event_id % 7 = 0 THEN 'adjusted' ELSE event_type END" +
          " AS event_type, user_id FROM events WHERE user_id % 5 <> 0) mg",
        "CAST(user_id AS VARCHAR)", Seq("event_type"), p = 5, exact = true))),

    // Lake maintenance 11: PER-COLUMN zone maps. Every commit records
    // min/max for every stats-encodable column (numeric, date,
    // timestamp — the Iceberg/Delta-class per-column metadata), so a
    // range read prunes on ANY recorded column. The gate runs readRange on
    // two DIFFERENT columns of the shared fixture (value, user_id) and
    // hashes both legs against plain range filters over the merged
    // state; exact per-column skip sets and the loud refusal for
    // unrecorded columns are pinned in VersionedLakeSpec.
    QDef(
      "s20_multicol_range",
      (s, dir) => {
        val lake = versionedLakeFixture(s, dir)
        def leg(probe: String, column: String, lo: Double, hi: Double,
            rowFilter: org.apache.spark.sql.Column) =
          graft.sources.VersionedLake.readRange(s, lake, column, lo, hi, None)
            .filter(rowFilter)
            .groupBy(col("event_date").cast("string").as("event_date"))
            .agg(count(lit(1)).as("n_rows"),
              sum(round(col("value") * 100).cast("long")).as("sum_cents"))
            .withColumn("probe", lit(probe))
        leg("value", "value", 40.0, 120.0,
          col("value") >= 40.0 && col("value") <= 120.0)
          .unionByName(leg("user_id", "user_id", 10.0, 60.0,
            col("user_id") >= 10L && col("user_id") <= 60L))
          .select(col("probe"), col("event_date"), col("n_rows"), col("sum_cents"))
          .orderBy(col("probe"), col("event_date"))
      },
      Some(mergedCtes +
        """
          |SELECT * FROM (
          |  SELECT 'value' AS probe, event_date, count(*) AS n_rows,
          |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |  FROM merged WHERE value >= 40.0 AND value <= 120.0
          |  GROUP BY event_date
          |  UNION ALL
          |  SELECT 'user_id' AS probe, event_date, count(*) AS n_rows,
          |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |  FROM merged WHERE user_id >= 10 AND user_id <= 60
          |  GROUP BY event_date)
          |ORDER BY probe, event_date""".stripMargin)),

    // Lake maintenance 10: MIN/MAX in the incrementally-maintained
    // view — the non-invertible aggregates (the reference's own
    // flagship measures min(status)/max per grid point,
    // timestream-queries/queries.txt:14). Same churn as s18 (updates,
    // deletes, backfill inserts), but the view also maintains
    // min/max of the measure: insert-only groups fold with
    // least/greatest, delete-touched groups re-aggregate from the
    // pinned source version pruned to just those partitions. The gate
    // hashes the maintained view — including extremes whose holders
    // the churn deleted — against the oracle's one-shot recompute.
    QDef(
      "s19_minmax_view",
      (s, dir) => {
        val out = Fixtures.dir("mview_minmax", dir) { o =>
          val ev = Tables.events(s, dir)
            .withColumn("event_date", to_date(col("ts")).cast("string"))
            .select(col("event_id"), col("user_id"), col("event_type"),
              round(col("value") * 100).cast("long").as("value_cents"),
              col("event_date"))
          graft.sources.VersionedLake.create(ev, s"$o/src", "event_date")
          val scope = ev.filter(col("event_date") <= "2024-01-15")
          val changes = scope
            .filter(col("event_id") % 7 === 0 && col("event_id") % 13 =!= 0)
            .withColumn("event_type", lit("adjusted"))
            .withColumn("_deleted", lit(false))
            .unionByName(scope.filter(col("event_id") % 13 === 0)
              .withColumn("_deleted", lit(true)))
            .unionByName(scope.filter(col("event_id") % 11 === 0)
              .withColumn("event_id", col("event_id") + lit(1000000000L))
              .withColumn("event_type", lit("backfill"))
              .withColumn("_deleted", lit(false)))
          graft.sources.VersionedLake.mergeUpsert(
            s, s"$o/src", changes, Seq("event_id"), "event_date")
          graft.streaming.MaterializedAgg.maintain(s, s"$o/src",
            s"$o/state", s"$o/view",
            groupCols = Seq("event_date"), valueCol = "value_cents",
            partitionCol = "event_date",
            minMaxCols = Seq("value_cents"),
            srcPartitionCol = Some("event_date"))
        }
        graft.sources.VersionedLake.read(s, s"$out/view")
          .select(col("event_date").cast("string").as("event_date"),
            col("agg_sum").cast("long").as("sum_cents"), col("agg_count"),
            col("min_value_cents").cast("long").as("min_cents"),
            col("max_value_cents").cast("long").as("max_cents"))
          .orderBy(col("event_date"))
      },
      Some(
        """WITH ev AS (
          |  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents,
          |         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date
          |  FROM events),
          |scope AS (SELECT * FROM ev WHERE event_date <= '2024-01-15'),
          |changed AS (
          |  SELECT event_id, event_date, cents
          |  FROM scope WHERE event_id % 7 = 0 AND event_id % 13 <> 0
          |  UNION ALL
          |  SELECT event_id + 1000000000, event_date, cents
          |  FROM scope WHERE event_id % 11 = 0),
          |removed AS (
          |  SELECT event_id FROM scope WHERE event_id % 13 = 0
          |  UNION ALL
          |  SELECT event_id FROM scope WHERE event_id % 7 = 0 AND event_id % 13 <> 0),
          |merged AS (
          |  SELECT event_date, cents FROM ev
          |  WHERE event_id NOT IN (SELECT event_id FROM removed)
          |  UNION ALL SELECT event_date, cents FROM changed)
          |SELECT event_date, CAST(sum(cents) AS BIGINT) AS sum_cents,
          |       count(*) AS agg_count,
          |       CAST(min(cents) AS BIGINT) AS min_cents,
          |       CAST(max(cents) AS BIGINT) AS max_cents
          |FROM merged GROUP BY event_date ORDER BY event_date""".stripMargin)),

    // Lake maintenance 13: the zone maps AS A TABLE — per-partition
    // (n_files, n_rows, min, max) read from manifest METADATA alone,
    // through SQL text (lake_col_stats TVF). Per-file min/max are
    // exact commit-time aggregates, so their fold must equal the
    // oracle's full recompute over the merged state — any drift
    // between what the manifests claim and what the data holds (the
    // metadata the range reads PRUNE with) is a hash mismatch. The
    // n_files column is layout, not content — excluded from the gate.
    QDef(
      "s27_lake_col_stats",
      (s, dir) => {
        val lake = versionedLakeFixture(s, dir)
        s.sql(
          s"""SELECT CAST(partition AS STRING) AS event_date, n_rows,
             |       min, max
             |FROM lake_col_stats('$lake', 'value')
             |ORDER BY event_date""".stripMargin)
      },
      Some(mergedCtes +
        """
          |SELECT event_date, count(*) AS n_rows,
          |       min(value) AS min, max(value) AS max
          |FROM merged GROUP BY event_date ORDER BY event_date""".stripMargin)),

    // Lake maintenance 14: partition-level retention as a COMMIT —
    // the versioned lake's TTL. The fixture commits the events lake
    // and expires every date partition below Jan 15 via the (deferred)
    // lake_expire_below TVF: a metadata-only manifest exclusion, so
    // the gate hashes BOTH the surviving current version against the
    // oracle's date-filtered recompute AND the pre-drop version's
    // row count via time travel — retention that cannot silently eat
    // history (VersionedLakeSpec pins vacuum reclaim and OCC).
    QDef(
      "s29_lake_expire",
      (s, dir) => {
        val lake = {
          val out = Fixtures.dir("expire_lake", dir) { o =>
            val ev = Tables.events(s, dir)
              .withColumn("event_date", to_date(col("ts")).cast("string"))
            graft.sources.VersionedLake.create(ev, s"$o/lake", "event_date")
            val receipt = s.sql(
              s"SELECT * FROM lake_expire_below('$o/lake', '2024-01-15')")
              .collect()
            require(receipt.nonEmpty && !receipt.head.isNullAt(1),
              "expiry dropped nothing")
          }
          s"$out/lake"
        }
        val survivors = graft.sources.VersionedLake.read(s, lake)
          .groupBy(col("event_date").cast("string").as("event_date"))
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        val history = graft.sources.VersionedLake.read(s, lake, Some(1))
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents"))
          .select(lit("v1:all").as("event_date"), col("n_rows"),
            col("sum_cents"))
        survivors.unionByName(history)
          .select(col("event_date"), col("n_rows"), col("sum_cents"))
          .orderBy(col("event_date"))
      },
      Some(
        """WITH ev AS (
          |  SELECT value, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date
          |  FROM events)
          |SELECT * FROM (
          |  SELECT event_date, count(*) AS n_rows,
          |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |  FROM ev WHERE event_date >= '2024-01-15'
          |  GROUP BY event_date
          |  UNION ALL
          |  SELECT 'v1:all', count(*),
          |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |  FROM ev)
          |ORDER BY event_date""".stripMargin)),

    // Lake maintenance 15: Z-ORDER re-clustering as a maintenance
    // commit — OPTIMIZE ... ZORDER BY for the versioned lake, driven
    // through SQL text (the deferred lake_zorder TVF). The fixture
    // commits the events lake with deliberately value-scrambled files
    // (repartition(6): every file spans the full value range, so zone
    // maps can prove nothing), z-orders by (value, user_id), and
    // REQUIREs from manifest metadata alone that a mid-range value
    // envelope now excludes files it could not exclude before — the
    // clustering claim, checked where range reads actually prune. The
    // gate then hashes the SAME range aggregate at v1 (pre-zorder) and
    // v2 (post-zorder, auto zone-map-pruned scan) against one oracle:
    // identical legs prove the rewrite moved bytes, never rows.
    QDef(
      "s30_lake_zorder",
      (s, dir) => {
        val lake = {
          // NOT "zorder_lake" — that key is s12's (LakeOps.zorderWrite)
          // fixture; a shared key would skip whichever builder runs
          // second and break its reads
          val out = Fixtures.dir("zorder_vlake", dir) { o =>
            val ev = Tables.events(s, dir)
              .withColumn("event_date", to_date(col("ts")).cast("string"))
            graft.sources.VersionedLake.create(
              ev.repartition(6), s"$o/lake", "event_date")
            val receipt = s.sql(
              s"""SELECT * FROM
                 |lake_zorder('$o/lake', 'event_date', 'value, user_id', 4)"""
                .stripMargin).collect()
            require(receipt.head.getLong(0) == 2L,
              s"zorder must commit v2, got ${receipt.head.getLong(0)}")
            def overlapping(v: Int) = {
              import graft.sources.VersionedLake
              val es = VersionedLake.manifestEntries(s"$o/lake", v)
              (es.size, es.count(VersionedLake.admits(_,
                VersionedLake.FileTest.NumRange("value", 10.0, 20.0))))
            }
            val (n1, o1) = overlapping(1)
            val (n2, o2) = overlapping(2)
            require(o2 < n2,
              s"zorder must make the [10,20] envelope skip files: $o2 of $n2")
            // relative claim (absolute full-overlap would be flaky on
            // tiny-SF files): clustering must shrink the overlap
            // FRACTION vs the scrambled layout
            require(o2.toDouble * n1 < o1.toDouble * n2,
              s"zorder must shrink the overlap fraction: $o2/$n2 vs $o1/$n1")
          }
          s"$out/lake"
        }
        def leg(v: Int) = s.sql(
          s"""SELECT CAST($v AS BIGINT) AS version,
             |       CAST(event_date AS STRING) AS event_date,
             |       count(*) AS n_rows,
             |       sum(CAST(round(value * 100) AS BIGINT)) AS sum_cents
             |FROM time_travel('$lake', $v)
             |WHERE value >= 10.0 AND value <= 20.0
             |GROUP BY CAST(event_date AS STRING)""".stripMargin)
        leg(1).unionByName(leg(2))
          .orderBy(col("version"), col("event_date"))
      },
      Some(
        """WITH ev AS (
          |  SELECT value, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date
          |  FROM events),
          |agg AS (
          |  SELECT event_date, count(*) AS n_rows,
          |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |  FROM ev WHERE value >= 10.0 AND value <= 20.0
          |  GROUP BY event_date)
          |SELECT * FROM (
          |  SELECT CAST(1 AS BIGINT) AS version, * FROM agg
          |  UNION ALL
          |  SELECT CAST(2 AS BIGINT) AS version, * FROM agg)
          |ORDER BY version, event_date""".stripMargin)),

    // Lake maintenance 12: MULTI-COLUMN per-file Bloom filters. The
    // fixture declares a column-SET Bloom spec (event_id AND user_id)
    // at create; the spec is carried through one copy-on-write merge
    // (tableBlooms inheritance), and the gate then runs the key-SET
    // point read on EACH column — the probe keys are derived from the
    // merged state by a modulo predicate, so keys ≡ row filter ≡
    // oracle predicate and Bloom false positives stay invisible behind
    // the exact filter. Two definitely-absent keys ride the event_id
    // probe set (pruning-only; zero rows can match them). Exact
    // per-column skip sets, absent-key zero-file pruning, the maxKeys
    // fallback, and the loud unrecorded-column refusal are pinned in
    // VersionedLakeSpec.
    QDef(
      "s21_multicol_point",
      (s, dir) => {
        val lake = multicolPointFixture(s, dir)
        val cur = graft.sources.VersionedLake.read(s, lake)
        def keysOf(c: String, m: Int, r: Int): Seq[String] =
          cur.filter(col(c) % m === r).select(col(c).cast("string"))
            .distinct().collect().map(_.getString(0)).toSeq
        def leg(probe: String, keys: Seq[String],
            rowFilter: org.apache.spark.sql.Column) =
          graft.sources.VersionedLake.readPoints(s, lake, probe, keys)
            .filter(rowFilter)
            .groupBy(col("event_date").cast("string").as("event_date"))
            .agg(count(lit(1)).as("n_rows"),
              sum(round(col("value") * 100).cast("long")).as("sum_cents"))
            .withColumn("probe", lit(probe))
        leg("event_id", keysOf("event_id", 509, 7) ++ Seq("-1", "-2"),
          col("event_id") % 509 === 7)
          .unionByName(leg("user_id", keysOf("user_id", 37, 5),
            col("user_id") % 37 === 5))
          .select(col("probe"), col("event_date"), col("n_rows"),
            col("sum_cents"))
          .orderBy(col("probe"), col("event_date"))
      },
      Some(mergedCtes +
        """
          |SELECT * FROM (
          |  SELECT 'event_id' AS probe, event_date, count(*) AS n_rows,
          |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |  FROM merged WHERE event_id % 509 = 7
          |  GROUP BY event_date
          |  UNION ALL
          |  SELECT 'user_id' AS probe, event_date, count(*) AS n_rows,
          |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |  FROM merged WHERE user_id % 37 = 5
          |  GROUP BY event_date)
          |ORDER BY probe, event_date""".stripMargin)),

    // S8/P2/P7/P8 faithful positional-crawl round-trip
    // (README.md:407-424): flagship window exported as headered CSV,
    // crawled WITHOUT names (all-string col1..colN, header lines
    // surfacing as garbage data rows), rebuilt typed by positional
    // rename + CAST with the reference's substr(col2,1,1)='2' guard.
    // CSV value round-trip is exact: doubles print shortest-roundtrip,
    // grid timestamps are whole hours.
    QDef(
      "s8_positional_crawl_view",
      (s, dir) => {
        val out = Fixtures.dir("csv_export_lake", dir) { o =>
          val events = Tables.events(s, dir)
          val (st, en) = windows(0)
          graft.sources.CsvLake.exportCsv(
            graft.operators.TimeSeries.flagship(
              events.filter(col("ts") >= lit(st).cast("timestamp") &&
                col("ts") < lit(en).cast("timestamp")), P),
            s"$o/ts_csv")
        }
        graft.sources.CsvLake.registerPositional(s, s"$out/ts_csv", "csv_positional")
        s.sql(
          """SELECT CAST(col1 AS BIGINT) AS user_id,
            |       CAST(col2 AS TIMESTAMP) AS time,
            |       col3 AS status,
            |       CAST(col4 AS DOUBLE) AS temperature
            |FROM csv_positional
            |WHERE substr(col2, 1, 1) = '2'
            |ORDER BY user_id, time""".stripMargin)
      },
      Some {
        val (st, en) = windows(0)
        val where = s" WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '$st'" +
          s" AND CAST(ts AS TIMESTAMP) < TIMESTAMP '$en'"
        s"""WITH ${TimeSeriesQueries.gridCteDefs("_pc", where)}
           |SELECT user_id, time, min(status) AS status,
           |       floor(avg(temperature) * 100 + 0.5) / 100.0 AS temperature
           |FROM gridded_pc GROUP BY user_id, time
           |ORDER BY user_id, time""".stripMargin
      })
  )
}
