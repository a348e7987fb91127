package graft

import graft.operators.TimeSeries
import graft.operators.TimeSeries.GridParams
import graft.sources.CsvLake
import graft.streaming.{CepStream, Exporter, Generator, Ingest}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** SURVEY §5.2.5 — the reference's whole topology in one test run:
  *
  *   generator → JSON stream → ingest (narrow store)        [§3.2 path a]
  *             → CEP stream → narrow CEP store              [§3.2 path b]
  *   narrow store → wide pivot → flagship → windowed export [§3.3]
  *   export ⋈ CSV sensor→customer mapping (schema-on-read)  [§3.3]
  */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  test("full pipeline: generate → ingest → flagship → export → enrich") {
    val in = tmp("e2e_in"); val raw = tmp("e2e_raw"); val ckpt = tmp("e2e_ckpt")
    val lake = tmp("e2e_lake"); val csv = tmp("e2e_csv")

    // 1. generate one hour of fleet data, land it as JSON-line files
    val events = Generator.generate(spark, sensors = 20, ticks = 120,
      startMillis = 1704067200000L) // 2024-01-01 00:00:00 UTC
    val lines = Generator.toJsonLines(events).collect().map(_.getString(0))
    Files.write(in.resolve("feed.json"), String.join("\n", lines: _*).getBytes("UTF-8"))

    // 2. ingest: JSON stream → narrow parquet store
    Ingest.ingestStream(spark, in.toString, raw.toString, ckpt.toString).awaitTermination()
    val narrow = spark.read.parquet(raw.toString)
    assert(narrow.count() == events.count())

    // 3. narrow → wide reconstruction (A6) → flagship interpolation
    val wide = narrow.groupBy(col("sensor_id"), col("time"), col("status"))
      .agg(max(when(col("measure_name") === "temperature", col("measure_value")))
        .as("temperature"))
    val P = GridParams("sensor_id", "time", "temperature", "status", "1 MINUTE")
    val flag = TimeSeries.flagship(wide, P)
    assert(flag.count() > 0)

    // 4. windowed export of the flagship to the lake
    Exporter.backfillOnePass(wide, P, lake.toString, Seq(("2024-01-01", "2024-01-02")))
    val exported = Exporter.readExport(spark, lake.toString)
    assert(exported.count() == flag.count())

    // 5. schema-on-read CSV master data joins the export (J1/J2/J5)
    val mapping = (0 until 20).map(i => (f"sensor-$i%02d", i % 4))
    Files.write(csv.resolve("mapping.csv"),
      ("sensor_id,customer_id\n" + mapping.map { case (s, c) => s"$s,$c" }.mkString("\n"))
        .getBytes("UTF-8"))
    CsvLake.registerExternalTable(spark, csv.toString, "e2e_mapping")
    exported.createOrReplaceTempView("e2e_export")
    val enriched = spark.sql(
      """SELECT e.sensor_id, e.time, e.temperature, e.status,
        |       CAST(m.customer_id AS INT) AS customer_id
        |FROM e2e_export e JOIN e2e_mapping m USING (sensor_id)""".stripMargin)
    assert(enriched.count() == exported.count()) // every sensor resolves
    assert(enriched.select("customer_id").distinct().count() == 4)
  }

  test("modern lake branch: stream → versioned commits → auto-compaction → CDC-fed incremental aggregate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = tmp("e2e_vlake")
    val lakeDir = s"$root/lake"

    // sensor fleet lands in a versioned lake one micro-batch at a
    // time, partitioned by sensor, stats on temperature, compaction
    // every second version
    val fleet = Generator.generate(spark, sensors = 6, ticks = 40,
      startMillis = 1704067200000L)
      .select(col("sensor_id"), col("event_time"), col("temperature"), col("status"))
      .collect()
    val ms = MemoryStream[(String, Long, Double, String)]
    def run(): Unit = {
      val q = graft.sources.VersionedLake.streamingCommit(
        ms.toDS().toDF("sensor_id", "event_time", "temperature", "status"),
        lakeDir, "sensor_id", s"$root/ckpt", compactEvery = 2)
      q.awaitTermination()
    }
    val batches = fleet.grouped(math.max(1, fleet.length / 3)).toSeq
    // the CDC consumer maintains per-sensor counts incrementally
    val acc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    batches.foreach { b =>
      ms.addData(b.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3))))
      run()
      graft.streaming.ChangeFeed.processAvailable(spark, lakeDir, s"$root/feed") {
        (df, _, _) =>
          df.groupBy("sensor_id").agg(
            sum(when(col("_change") === "insert", 1L).otherwise(-1L)).as("d"))
            .as[(String, Long)].collect()
            .foreach { case (k, d) => acc(k) = acc(k) + d }
      }
    }
    // the incrementally-maintained counts equal the lake's truth
    val batch = graft.sources.VersionedLake.read(spark, lakeDir)
      .groupBy("sensor_id").count().as[(String, Long)].collect().toMap
    assert(acc.toMap == batch)
    assert(batch.values.sum == fleet.length)
    // COUNT(*) from manifest metadata agrees
    assert(graft.sources.VersionedLake.rowCount(spark, lakeDir) == fleet.length.toLong)
    // compaction interleaved but emitted zero CDC rows and lost nothing
    assert(graft.sources.VersionedLake.currentVersion(lakeDir) > batches.length)
    // time travel: the first committed version still reads exactly batch 1
    assert(graft.sources.VersionedLake.read(spark, lakeDir, Some(1)).count() ==
      batches.head.length)
    // and zone maps recorded by every commit survive for range reads
    val hot = graft.sources.VersionedLake
      .readRange(spark, lakeDir, "temperature", 150.0, 200.0, None)
      .filter(col("temperature") >= 150.0)
    assert(hot.count() ==
      graft.sources.VersionedLake.read(spark, lakeDir)
        .filter(col("temperature") >= 150.0).count())
  }

  test("live CEP branch: stream → matches → narrow CEP store via foreachBatch (S2/C3)") {
    val cepStore = tmp("e2e_cep")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // sensor events with guaranteed sandwiches
    val evs = Generator.generate(spark, sensors = 8, ticks = 400,
      startMillis = 1704067200000L)
      .select(col("sensor_id"), timestamp_micros(col("event_time")).as("event_time"),
        col("temperature"), col("status"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("sensor_id", "event_time")).cast("long").as("event_id"))
      .as[CepStream.SensorEvent].collect().toSeq
      // arrival in event-time order across the fleet — with per-sensor
      // blocks the watermark from one sensor's tail would (correctly)
      // expire other sensors' not-yet-arrived history
      .sortBy(e => (e.event_time.getTime, e.sensor_id))

    val ms = MemoryStream[CepStream.SensorEvent]
    val matches = CepStream.matches(ms.toDS())
    // S2: the second stream→store hop — matches pivoted to the narrow
    // model and appended per micro-batch (foreachBatch sink form)
    val q = matches.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[CepStream.CepMatch], _: Long) =>
        Ingest.toNarrow(
          batch.toDF().withColumn("event_time", unix_micros(col("event_time"))),
          dims = Seq("sensor_id", "non_errors", "history"),
          measures = Seq("min_temperature", "avg_temperature", "max_temperature"))
          .write.mode("append").parquet(cepStore.toString)
      }
      .start()
    evs.grouped(150).foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
    q.stop()

    // parity: the stored narrow CEP rows == batch emulation, same pivot
    val expect = Ingest.toNarrow(
      CepStream.matchesBatchEmulation(evs.toDS())
        .withColumn("event_time", unix_micros(col("event_time"))),
      dims = Seq("sensor_id", "non_errors", "history"),
      measures = Seq("min_temperature", "avg_temperature", "max_temperature"))
      .collect().map(_.toSeq).toSet
    assert(expect.nonEmpty, "fixture must produce CEP matches")
    val got = spark.read.parquet(cepStore.toString).collect().map(_.toSeq).toSet
    assert(got == expect)
  }
}
