package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.functions.Arith
import graft.operators.{Cep, TimeSeries}
import graft.sources.{CsvLake, VersionedLake}
import graft.streaming.Exporter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `fleet_dashboard`: one client in a closed loop over a ten-minute history
  * lake and an export lake — the reference's Grafana and Athena reads.
  *
  * A cycle is one refresh of the reference's Grafana dashboard
  * (grafana-dashboard/grafanaTimeSeriesre_Inventdemo.json, 5 s refresh over
  * now-5m, :624,631-634): one request per documented panel, each over the
  * last five minutes of the lake, plus one each of three reads that are no
  * panel: the flagship query, the Athena enrichment and a one-sensor read.
  * "Now" is the lake's end, so every cycle sends the same
  * requests in the same order, as a refreshing dashboard does; the seed
  * sets the data and the one-sensor read's sensor.
  *
  * A request is timed from the public call to its last row collected; its
  * result fingerprint is compared afterwards (by `checks.py`) with an
  * independent DuckDB formulation over the same parquet files.
  */
object Dashboard {
  val HistoryTicks = 600
  val BucketMicros = 300L * 1000000L // history partition: 5 minutes
  /** Grafana's now-5m; also the flagship's window (README.md:173-186). */
  val WindowMicros = 300L * 1000000L
  /** Panel 518's `ago(10s)`. */
  val LatestMicros = 10L * 1000000L
  val ExportWindows = 2 // the export lake holds the last 10 minutes
  /** The enrich hot tier: the last export partition. */
  val HotCutoffKey = "2023-11-15T00-05"
  /** Whole cycles run until `--seconds` have passed, and at least this many. */
  val MinCycles = 3

  /** One refresh. Panels by their line in the Grafana JSON: 121 the CEP
    * matches (computed here, as the dashboard has no CEP table), 285 the
    * raw rows by time, 337 the status counts, 392 avg/p90/p75 per 30 s bin,
    * 518 max per sensor per 10 s bin over the last 10 s, 614 max per
    * sensor. Panel 203 is listed only with its time filter, so it is not
    * sent. */
  val mix = Seq("cep_adhoc", "panel.raw", "panel.status", "panel.percentiles",
    "panel.latest", "panel.max", "flagship", "enrich", "point")

  final case class Lakes(history: String, export: String, mapping: String, customers: String,
      endMicros: Long)

  final case class Op(kind: String, lo: Long, hi: Long, sensor: String, ms: Double,
      rows: Int, fp: String)

  def run(ctx: Ctx): Unit = {
    val sensor = Gen.sensorName(new scala.util.Random(ctx.a.seed).nextInt(Gen.Sensors))
    // warm-up on the first set-up's lakes: each request of a cycle once, so
    // codegen and JIT are warm for the other set-ups and the measured cycles
    val lakes = ctx.setup(3)(dir => build(ctx, dir, 0, HistoryTicks, ExportWindows),
      warm = (l: Lakes) => mix.foreach(op(ctx, l, _, sensor)))
    enrich(ctx, lakes) // fills the measured export lake's hot tier
    Log.step("warm-up done")
    def pass() = measure(ctx, lakes, sensor)
    if (ctx.a.trace) {
      // the tracing overhead's reference: the same requests untraced, first
      val (ops0, wallS0) = pass()
      ctx.metric("untraced.primary", Stat.median(ops0.map(_.ms)), "ms", ops0.size)
      ctx.metric("untraced.wall_ms", wallS0 * 1e3, "ms")
    }
    val (ops, wallS) = ctx.measured(pass())
    report(ctx, ops, wallS, lakes)
    if (ctx.a.trace) {
      layerReport(ctx)
      val flag = ops.filter(_.kind == "flagship")
      ctx.metric("timeseries.grid_rows", Stat.median(flag.map(_.rows.toDouble)), "count", flag.size)
      Corpus.probe(ctx)
    }
  }

  /** History lake of fleet seconds [from, to) (zone maps on every column,
    * Bloom on sensor_id), the export lake of its last `windows` 5-minute
    * windows, and the CSV master data. */
  def build(ctx: Ctx, dir: String, from: Int, to: Int, windows: Int): Lakes = {
    val spark = ctx.spark
    val end = Gen.OriginMicros + to * 1000000L
    val ev = Gen.fleet(spark, ctx.a.seed, from, to)
    val rows = ev.select(col("sensor_id"), timestamp_micros(col("event_time")).as("time"),
      col("temperature"), col("status"),
      date_format(timestamp_micros(col("event_time") -
        pmod(col("event_time"), lit(BucketMicros))), "yyyy-MM-dd'T'HH-mm").as("part"))
    val l = Lakes(s"$dir/history", s"$dir/export", s"$dir/sensor_mapping",
      s"$dir/customer_data", end)
    VersionedLake.create(rows, l.history, "part",
      blooms = Seq(VersionedLake.BloomSpec("sensor_id")))
    val exportFrom = end - windows * WindowMicros
    val recent = VersionedLake.readRange(spark, l.history, "time",
      exportFrom.toDouble, (end - 1).toDouble, None).drop("part")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    def ts(us: Long) = fmt.format(java.time.Instant.ofEpochSecond(us / 1000000L))
    val ws = (0 until windows).map { k =>
      val s = exportFrom + k * WindowMicros
      (ts(s), ts(s + WindowMicros))
    }
    Exporter.backfillOnePass(recent, Fleet.grid, l.export, ws)
    // master data shaped like the reference's data-lake/ CSVs: 99 mapped
    // sensors over 5 customers
    Files.createDirectories(Paths.get(l.mapping))
    Files.createDirectories(Paths.get(l.customers))
    val mapping = "sensor_id,customer_id\n" +
      (0 until 99).map(i => s"${Gen.sensorName(i)},c${i % 5 + 1}").mkString("\n") + "\n"
    Files.write(Paths.get(l.mapping, "sensor_mapping.csv"), mapping.getBytes(StandardCharsets.UTF_8))
    val customers = "customer_id,customer_name,segment\n" +
      (1 to 5).map(c => s"c$c,Customer $c,${if (c % 2 == 0) "retail" else "industry"}")
        .mkString("\n") + "\n"
    Files.write(Paths.get(l.customers, "customer_data.csv"), customers.getBytes(StandardCharsets.UTF_8))
    l
  }

  /** Whole cycles until `--seconds` have passed (at least `MinCycles`);
    * the ops and the wall time. */
  private def measure(ctx: Ctx, l: Lakes, sensor: String): (Seq[Op], Double) = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val ops = mutable.ArrayBuffer.empty[Op]
    var cycles = 0
    while (cycles < MinCycles || elapsed < ctx.a.seconds) {
      ops ++= mix.map(op(ctx, l, _, sensor))
      cycles += 1
    }
    (ops.toSeq, elapsed)
  }

  /** One request over now-5m (panel 518 over its last 10 s). */
  private def op(ctx: Ctx, l: Lakes, kind: String, sensor: String): Op = {
    val hi = l.endMicros
    val lo = hi - WindowMicros
    kind match {
      case "flagship" => request(ctx, kind, lo, hi, "") { flagship(ctx, l, lo, hi) }
      case "cep_adhoc" => request(ctx, kind, lo, hi, "") { cep(ctx, l, lo, hi) }
      case "panel.latest" =>
        request(ctx, kind, hi - LatestMicros, hi, "") { panel(ctx, l, kind, hi - LatestMicros, hi) }
      case "point" => request(ctx, kind, lo, hi, sensor) { point(ctx, l, sensor, lo, hi) }
      case "enrich" => request(ctx, kind, 0L, 0L, "") { enrich(ctx, l) }
      case _ => request(ctx, kind, lo, hi, "") { panel(ctx, l, kind, lo, hi) }
    }
  }

  private val reads = mutable.ArrayBuffer.empty[(Double, Double)] // (plan ms, files scanned frac)

  private def request(ctx: Ctx, kind: String, lo: Long, hi: Long, sensor: String)(
      body: => Array[Row]): Op = {
    val t0 = System.nanoTime()
    val rows = Trace.span("Benchmark", kind)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    Op(kind, lo, hi, sensor, ms, rows.length, fingerprint(rows))
  }

  /** A lake read, timed to the moment the DataFrame is returned; in traced
    * runs also the share of the manifest's files the scan will open. */
  private def read(l: Lakes)(f: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val df = Trace.span("VersionedLake", "lake.read")(f)
    val ms = (System.nanoTime() - t0) / 1e6
    if (Trace.on) {
      val all = VersionedLake.manifest(l.history, VersionedLake.currentVersion(l.history)).size
      reads.synchronized { reads += ((ms, df.inputFiles.length.toDouble / math.max(1, all))) }
    }
    df
  }

  private def inRange(df: DataFrame, lo: Long, hi: Long): DataFrame =
    df.filter(unix_micros(col("time")) >= lo && unix_micros(col("time")) < hi)

  def flagship(ctx: Ctx, l: Lakes, lo: Long, hi: Long): Array[Row] = {
    val df = read(l)(VersionedLake.readRange(ctx.spark, l.history, "time",
      lo.toDouble, (hi - 1).toDouble, None))
    timed("timeseries.flagship_ms", "TimeSeries") {
      TimeSeries.flagship(inRange(df, lo, hi), Fleet.grid).collect()
    }
  }

  /** A Grafana panel's query over [lo, hi) of the history lake. */
  def panel(ctx: Ctx, l: Lakes, kind: String, lo: Long, hi: Long): Array[Row] = {
    val df = inRange(read(l)(VersionedLake.readRange(ctx.spark, l.history, "time",
      lo.toDouble, (hi - 1).toDouble, None)), lo, hi)
    def n(status: String) = sum(when(col("status") === status, 1).otherwise(0))
    val layer = if (kind == "panel.percentiles" || kind == "panel.latest") "TimeSeries" else "Runtime"
    Trace.span(layer, kind) {
      (kind match {
        case "panel.raw" => // SELECT * … ORDER BY time
          df.select("sensor_id", "time", "temperature", "status").orderBy("time")
        case "panel.status" => // COUNT(*) per status, pivoted by CASE
          df.agg(n("OK").as("ok"), n("WARNING").as("warning"), n("ERROR").as("error"),
            count(lit(1)).as("n"))
        case "panel.percentiles" => // AVG and APPROX_PERCENTILE 0.9/0.75 per 30 s bin
          df.groupBy(TimeSeries.bin(col("time"), 30).as("bin"))
            .agg(Arith.r2(avg(col("temperature"))).as("avg_t"),
              Arith.r2(percentile_approx(col("temperature"), lit(0.9), lit(1000000))
                .cast("double")).as("p90_t"),
              Arith.r2(percentile_approx(col("temperature"), lit(0.75), lit(1000000))
                .cast("double")).as("p75_t"))
        case "panel.latest" => // MAX per sensor per BIN(time, 10s)
          df.groupBy(col("sensor_id"), TimeSeries.bin(col("time"), 10).as("bin"))
            .agg(max(col("temperature")).as("max_t")).orderBy(desc("bin"))
        case "panel.max" => // MAX per sensor, highest first
          df.groupBy("sensor_id").agg(max(col("temperature")).as("max_t"))
            .orderBy(desc("max_t"))
      }).collect()
    }
  }

  val cepParams = Cep.Params("sensor_id", "time", "temperature", "status", "event_id",
    errorValue = "ERROR", maxB = 5, withinMicros = 60000000L)

  def cep(ctx: Ctx, l: Lakes, lo: Long, hi: Long): Array[Row] = {
    val df = read(l)(VersionedLake.readRange(ctx.spark, l.history, "time",
      lo.toDouble, (hi - 1).toDouble, None))
    timed("cep_batch.ms", "Cep") {
      Cep.matchesPattern(inRange(df, lo, hi).withColumn("event_id", unix_micros(col("time"))),
        cepParams, Cep.errorSandwichSpec(cepParams)).collect()
    }
  }

  def point(ctx: Ctx, l: Lakes, sensor: String, lo: Long, hi: Long): Array[Row] = {
    val df = read(l)(VersionedLake.readPoint(ctx.spark, l.history, "sensor_id",
      sensor, None))
    Trace.span("VersionedLake", "lake.point") {
      inRange(df.filter(col("sensor_id") === sensor), lo, hi)
        .select("sensor_id", "time", "temperature", "status").collect()
    }
  }

  def enrich(ctx: Ctx, l: Lakes): Array[Row] = {
    val spark = ctx.spark
    val export = timed("export.hot_read_ms", "Exporter") {
      Exporter.hotColdRead(spark, l.export, HotCutoffKey)
    }
    val (mapping, customers) = timed("csv.register_ms", "CsvLake") {
      (CsvLake.registerExternalTable(spark, l.mapping, "sensor_mapping"),
        CsvLake.registerExternalTable(spark, l.customers, "customer_data"))
    }
    timed("enrich.join_ms", "CsvLake") {
      export.join(mapping, "sensor_id").join(customers, "customer_id")
        .groupBy("customer_id", "customer_name")
        .agg(count(lit(1)).as("n"), Arith.r2(avg(col("temperature"))).as("avg_t"),
          max(col("temperature")).as("max_t"))
        .collect()
    }
  }

  private val layerMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def timed[T](metric: String, layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = Trace.span(layer, metric.stripSuffix("_ms"))(body)
    if (Trace.on) layerMs.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e6
    out
  }

  /** Order-independent digest of a result: each row rendered canonically
    * (timestamps as epoch micros, doubles to 2 decimals), sorted, hashed. */
  def fingerprint(rows: Array[Row]): String = {
    def v(x: Any): String = x match {
      case null => "\\N"
      case t: java.sql.Timestamp =>
        (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L).toString
      case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000L).toString
      case d: Double => f"$d%.2f"
      case o => o.toString
    }
    val lines = rows.map(r => (0 until r.length).map(i => v(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(s => md.update((s + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def report(ctx: Ctx, ops: Seq[Op], wallS: Double, l: Lakes): Unit = {
    val ms = ops.map(_.ms)
    // the operation is a request, of any kind
    ctx.metric("latency_p50_ms", Stat.median(ms), "ms", ops.size)
    ctx.metric("latency_p90_ms", Stat.quantile(ms, 0.9), "ms", ops.size)
    ctx.metric("ops_per_s", ops.size / wallS, "1/s", ops.size)
    val cepMs = ops.filter(_.kind == "cep_adhoc").map(_.ms)
    ctx.metric("cep_p50_ms", Stat.median(cepMs), "ms", cepMs.size)
    Log.step(ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, o) =>
      o.map(x => f"${x.ms}%.0f").mkString(s"$k ", " ", "") }.mkString("request ms: ", ", ", ""))
    // handed to checks.py, which recomputes each distinct request in DuckDB
    val files = VersionedLake.manifest(l.history, VersionedLake.currentVersion(l.history))
      .map(_._2)
    ctx.extra("dashboard") =
      s"""{"history_files":${files.map(Json.str).mkString("[", ",", "]")},""" +
        s""""export_dir":${Json.str(l.export)},"hot_cutoff":${Json.str(HotCutoffKey)},""" +
        s""""mapping_csv":${Json.str(l.mapping + "/sensor_mapping.csv")},""" +
        s""""customers_csv":${Json.str(l.customers + "/customer_data.csv")},""" +
        s""""ops":${ops.map(o => s"""{"kind":${Json.str(o.kind)},"lo":${o.lo},"hi":${o.hi},""" +
          s""""sensor":${Json.str(o.sensor)},"rows":${o.rows},"fp":${Json.str(o.fp)}}""")
          .mkString("[", ",", "]")}}"""
  }

  /** Per-layer metrics of the traced pass. */
  def layerReport(ctx: Ctx): Unit = {
    layerMs.foreach { case (k, v) => ctx.metric(k, Stat.median(v.toSeq), "ms", v.size) }
    if (reads.nonEmpty) {
      ctx.metric("lake.read_plan_ms", Stat.median(reads.map(_._1).toSeq), "ms", reads.size)
      ctx.metric("lake.scan_files_frac", reads.map(_._2).sum / reads.size, "frac", reads.size)
    }
  }
}
