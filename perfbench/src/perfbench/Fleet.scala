package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.Cep
import graft.operators.TimeSeries.GridParams
import graft.sources.VersionedLake
import graft.streaming.{CepStream, Exporter, Ingest}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** The sensor pipeline as the reference runs it: one event stream feeding
  * three concurrent queries.
  *
  *  - RAW: JSON → `Ingest.parseSensorJson` → `Ingest.toNarrow` →
  *    `VersionedLake.streamingCommit` (the raw table, partitioned by hour);
  *  - CEP: `CepStream.matchesPatternMeasures` with the ERROR sandwich,
  *    appended to a parquet CEP store by the benchmark's `foreachBatch`;
  *  - EXPORT: `Exporter.continuousExport` into the export lake.
  *
  * `fleet_live` feeds it open loop through `MemoryStream`s; traced runs
  * also drain a JSON-line backlog through it under `Trigger.AvailableNow`.
  */
object Fleet {
  /** Live feed: 1,000 events/s, one Kinesis shard's capacity. The 100-sensor
    * fleet emits ~50 events per fleet second, so the feed replays fleet time
    * 20× faster than wall time; a 60 s export window then closes every 3 s. */
  val LiveRate = 1000
  /** Trigger of the live queries. A 1 s trigger was planned, but a RAW batch
    * takes about that long on 4 cores, so at 1 s the queries run back to
    * back and batch length feeds on itself: across seeds the latency medians
    * spread by 0.27 of the median (five seeds), against 0.07 at 2 s. */
  val LiveTrigger = "2 seconds"
  /** Seconds fed before the measured events: the warm-up pipeline's whole
    * feed, and the measured pipeline's lead-in. */
  val LiveLeadS = 2
  /** Export step of the live pipeline. `Exporter` keys partitions by the
    * minute (yyyy-MM-dd'T'HH-mm), so a sub-minute step puts several windows
    * under one key; traced runs probe that step apart (`step10Probe`). */
  val LiveStepMicros = 60000000L
  /** The sub-minute probe: a 10 s step over 70 fleet seconds, so
    * six windows close. */
  val ProbeStepMicros = 10000000L
  val ProbeTicks = 70
  /** Backlog for the single-threaded baseline of traced runs: 10 minutes of
    * the fleet in four equal files. */
  val BackfillTicks = 600
  val BackfillFiles = 4
  val BackfillStepMicros = 300000000L

  val cepParams = Cep.Params("sensor_id", "event_time", "temperature", "status",
    "event_id", errorValue = "ERROR", maxB = 5, withinMicros = 60000000L)
  val grid = GridParams("sensor_id", "time", "temperature", "status", "1 second")

  final class Dirs(root: String) {
    val raw = s"$root/raw"; val rawCk = s"$root/raw_ck"
    val cep = s"$root/cep"; val cepCk = s"$root/cep_ck"
    val stage = s"$root/stage"; val exp = s"$root/export"; val expCk = s"$root/export_ck"
  }

  /** What the benchmark sees of a running pipeline. */
  final class Taps {
    val commits = new ConcurrentHashMap[Long, Long]()          // RAW batch id → commit return (ns)
    val matches = new ConcurrentLinkedQueue[(Long, Int, Long)]() // (append ns, sensor, C tick)
    val storeMs = new ConcurrentLinkedQueue[Double]()
  }

  private val streamIds = new java.util.concurrent.atomic.AtomicInteger(1000)

  private def tickOf(micros: Long): Long = (micros - Gen.OriginMicros) / 1000000L

  /** Start the three queries over JSON `value` sources. Returns (layer, query). */
  def start(ctx: Ctx, d: Dirs, raw: DataFrame, cepSrc: DataFrame, expSrc: DataFrame,
      trigger: Trigger, stepMicros: Long, taps: Taps): Seq[(String, StreamingQuery)] = {
    val narrow = Ingest.toNarrow(Ingest.parseSensorJson(raw), Seq("sensor_id", "status"),
      Seq("temperature"))
      .withColumn("part", date_format(col("time"), "yyyy-MM-dd'T'HH"))
    val rawQ = VersionedLake.streamingCommit(narrow, d.raw, "part", d.rawCk, trigger,
      postCommit = (_, id) => { taps.commits.put(id, System.nanoTime()); () })

    val typed = Ingest.parseSensorJson(cepSrc).select(col("sensor_id"),
      timestamp_micros(col("event_time")).as("event_time"), col("temperature"),
      col("status"), col("event_time").as("event_id"))
    val matches = CepStream.matchesPatternMeasures(typed, cepParams,
      Cep.errorSandwichSpec(cepParams),
      m => Cep.defaultMeasures(m) :+ m.cTime.as("c_time"), watermarkDelay = "10 seconds")
    val cepQ = matches.writeStream
      .option("checkpointLocation", d.cepCk)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        b.persist()
        val t0 = System.nanoTime()
        b.write.mode("append").parquet(d.cep)
        val t1 = System.nanoTime()
        Trace.record(Span(Trace.nextId(), 0L, 0L, "CepStream", "cep.store", t0, t1, "CepStream"))
        taps.storeMs.add((t1 - t0) / 1e6)
        b.select(col("sensor_id"), unix_micros(col("c_time"))).collect().foreach { r =>
          taps.matches.add((t1, r.getString(0).stripPrefix("sensor-").toInt, tickOf(r.getLong(1))))
        }
        b.unpersist()
        ()
      }
      .start()

    val events = Ingest.parseSensorJson(expSrc).select(col("sensor_id"),
      timestamp_micros(col("event_time")).as("time"), col("temperature"), col("status"))
    val expQ = Exporter.continuousExport(events, grid, d.stage, d.exp, d.expCk,
      stepMicros, trigger)

    val qs = Seq("Ingest" -> rawQ, "CepStream" -> cepQ, "Exporter" -> expQ)
    qs.foreach { case (l, q) => ctx.queryLayers.put(q.id.toString, l) }
    qs
  }

  /** Polls the export lake and the staging area; records when each window's
    * partition first became visible, and the most staged prefixes seen. */
  final class ExportWatch(d: Dirs) extends Thread("export-watch") {
    setDaemon(true)
    val seen = new ConcurrentHashMap[String, Long]()
    @volatile var stagedMax = 0
    @volatile var running = true
    private def list(p: String): Array[String] =
      Option(new File(p).list()).getOrElse(Array.empty[String])
    override def run(): Unit = while (running) {
      val now = System.nanoTime()
      list(d.exp).filter(_.startsWith("partition_key=")).foreach { k =>
        seen.putIfAbsent(k.stripPrefix("partition_key="), now)
      }
      stagedMax = math.max(stagedMax, list(d.stage).count(n => !n.startsWith(".")))
      Thread.sleep(10)
    }
  }

  // ---------------------------------------------------------------- live

  def live(ctx: Ctx): Unit = {
    if (ctx.a.baseline) return backfill(ctx)
    val spark = ctx.spark
    val a = ctx.a
    // a throw-away pipeline first: codegen and JIT warm before set-up and
    // the measured pipeline
    val warm = Gen.feed(spark, a.seed, 0, LiveLeadS * LiveRate / 40)
    livePhase(ctx, warm, math.min(warm.lines.length, LiveLeadS * LiveRate), 0, "live_warm",
      checkAll = false, drain = false)
    // ~50 events per fleet tick: generate comfortably more than the feed needs
    val ticks = ((LiveLeadS + a.seconds + 1).toLong * LiveRate / 40).toLong
    // a set-up takes a third of a second, and the first few run slower
    // while the JIT warms: enough of them for a steady median
    val feed = ctx.setup(11) { _ => Gen.feed(spark, a.seed, 0, ticks) }
    val n = math.min(feed.lines.length, (LiveLeadS + a.seconds) * LiveRate)
    val first = LiveLeadS * LiveRate // first measured event
    if (a.trace) {
      // the tracing overhead's reference: the same pipeline untraced, first
      val t0 = System.nanoTime()
      val ref = livePhase(ctx, feed, n, first, "live_untraced", checkAll = true)
      ctx.metric("untraced.wall_ms", (System.nanoTime() - t0) / 1e6, "ms")
      ctx.metric("untraced.primary", ref.ingestP50, "ms")
    }
    val out = ctx.measured(livePhase(ctx, feed, n, first, "live", checkAll = true))
    out.report(ctx, true)
    if (a.trace) {
      out.report(ctx, false)
      step10Probe(ctx)
    }
  }

  /** The export at a 10 s step, checked like the live run's.
    * Minute-keyed partitions make every window but one per minute collide,
    * which this shows as failed windows. The count is reported as
    * `export.step10_windows` / `export.step10_failed` and a check line, and
    * is kept out of the run's failed operations: the gated workloads run
    * the 60 s step on which no operation fails. */
  private def step10Probe(ctx: Ctx): Unit = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val d = new Dirs(ctx.dir("step10"))
    val feed = Gen.feed(spark, ctx.a.seed, 0, ProbeTicks)
    val src = new MemoryStream[String](streamIds.incrementAndGet(), spark, Some(ctx.a.cores))
    val events = Ingest.parseSensorJson(src.toDF()).select(col("sensor_id"),
      timestamp_micros(col("event_time")).as("time"), col("temperature"), col("status"))
    val q = Exporter.continuousExport(events, grid, d.stage, d.exp, d.expCk, ProbeStepMicros,
      Trigger.ProcessingTime("100 milliseconds"))
    // one micro-batch per 10 fleet seconds
    (0 until ProbeTicks by 10).foreach { t =>
      src.addData(feed.lines.indices.filter(j => feed.ticks(j) >= t && feed.ticks(j) < t + 10)
        .map(feed.lines))
      q.processAllAvailable()
    }
    q.stop()
    val n = feed.lines.length
    val o = Offered(ctx.a, feed.ticks(n - 1), feed.sensors(n - 1))
    val ev = offeredDf(spark, o).select(col("sensor_id"),
      timestamp_micros(col("event_time")).as("time"), col("temperature"), col("status"))
    val (total, bad) = exportCheck(ctx, ev, d, o.lastTick, ProbeStepMicros)
    ctx.metric("export.step10_windows", total, "count")
    ctx.metric("export.step10_failed", bad, "count")
    val line = s"export lake at a 10 s step equals Exporter.backfillOnePass per closed " +
      s"window: ${total - bad}/$total correct (known defect: minute-keyed partitions; " +
      "reported, not in failed)"
    ctx.checks += line
    System.err.println(s"check $line")
  }

  /** Outcome of one run of the pipeline: reports its end-to-end (true) or
    * per-layer (false) metrics. */
  final class Run(val ingestP50: Double, val report: (Ctx, Boolean) => Unit)

  private def livePhase(ctx: Ctx, feed: Gen.Feed, n: Int, first: Int, tag: String,
      checkAll: Boolean, drain: Boolean = true): Run = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val d = new Dirs(ctx.dir(tag))
    // one partition per core per micro-batch, however many chunks it holds
    val streams = Seq.fill(3)(new MemoryStream[String](streamIds.incrementAndGet(), spark,
      Some(ctx.a.cores)))
    val taps = new Taps
    val progress0 = ctx.progress.size
    val qs = start(ctx, d, streams(0).toDF(), streams(1).toDF(), streams(2).toDF(),
      Trigger.ProcessingTime(LiveTrigger), LiveStepMicros, taps)
    val watch = new ExportWatch(d)
    watch.start()

    // open-loop schedule: event i is due at t0 + i/rate, whatever the system does
    val t0 = System.nanoTime() + 200000000L
    def due(i: Int): Long = t0 + i.toLong * 1000000000L / LiveRate
    val late = new Array[Long](n)
    val chunkEnd = mutable.ArrayBuffer.empty[Int] // chunk k covers [chunkEnd(k-1), chunkEnd(k))
    var i = 0
    while (i < n) {
      val now = System.nanoTime()
      if (now < due(i)) LockSupport.parkNanos(math.min(due(i) - now, 2000000L))
      else {
        val upto = math.min(n, ((now - t0) * LiveRate / 1000000000L).toInt + 1)
        val rows = feed.lines.slice(i, upto).toSeq
        streams.foreach(_.addData(rows))
        val added = System.nanoTime()
        (i until upto).foreach(j => late(j) = added - due(j))
        chunkEnd += upto
        i = upto
      }
    }
    Log.step(s"$tag: fed $n events")
    if (drain) qs.foreach(_._2.processAllAvailable())
    else // warm-up: every query has run a batch with data, which is all it is for
      while (qs.exists { case (_, q) => q.isActive && !ctx.progress.asScala.exists(p =>
        p.id == q.id && p.numInputRows > 0) }) Thread.sleep(50)
    qs.foreach(_._2.stop())
    watch.running = false
    watch.join()
    Log.step(s"$tag: drained")

    val prog = ctx.progress.asScala.drop(progress0).toSeq
    def of(layer: String) = {
      val id = qs.find(_._1 == layer).get._2.id
      prog.filter(p => p.id == id && p.durationMs.containsKey("addBatch"))
    }
    val rawP = of("Ingest")

    // ingest latency: due time → the commit of the micro-batch holding it
    val ingestLat = mutable.ArrayBuffer.empty[Double]
    val commitsSeen = mutable.ArrayBuffer.empty[(Long, Int)] // (commit ns, measured events)
    rawP.foreach { p =>
      val s = Option(p.sources(0).startOffset).filter(_ != "null").map(_.trim.toInt).getOrElse(-1)
      val e = p.sources(0).endOffset.trim.toInt
      val lo = math.max(first, if (s < 0) 0 else chunkEnd(s))
      val hi = chunkEnd(e)
      Option(taps.commits.get(p.batchId)).filter(_ => hi > lo).foreach { c =>
        (lo until hi).foreach(j => ingestLat += (c - due(j)) / 1e6)
        commitsSeen += ((c, hi - lo))
      }
    }
    // sustained commit rate: the least-squares slope of events committed so
    // far against commit time, over the measured batches; a slope, unlike
    // the two end points, does not hang on how the last batch falls
    val cs = commitsSeen.sortBy(_._1)
    val committedMeasured = cs.map(_._2.toLong).sum
    val eventsPerS =
      if (cs.size >= 3) {
        val ts = cs.map(_._1 / 1e9)
        val xs = cs.map(_._2.toDouble).scanLeft(0.0)(_ + _).tail
        val (mt, mx) = (ts.sum / ts.size, xs.sum / xs.size)
        ts.zip(xs).map { case (t, x) => (t - mt) * (x - mx) }.sum / ts.map(t => (t - mt) * (t - mt)).sum
      } else if (cs.nonEmpty) committedMeasured / ((cs.last._1 - due(first)) / 1e9)
      else 0.0
    // event index by (tick, sensor), for C events and window-closing events
    val idx = new java.util.HashMap[Long, Int]()
    (0 until n).foreach(j => idx.put(feed.ticks(j) * 1000 + feed.sensors(j), j))
    val cepLat = taps.matches.asScala.toSeq.flatMap { case (t, s, tick) =>
      Option(idx.get(tick * 1000 + s)).filter(_ >= first).map(j => (t - due(j)) / 1e6)
    }
    val stepTicks = LiveStepMicros / 1000000L
    val exportLat = watch.seen.asScala.toSeq.flatMap { case (key, seenAt) =>
      val startTick = tickOf(keyMicros(key))
      val closeTick = startTick + stepTicks
      val j = feed.ticks.indexWhere(_ >= closeTick)
      if (j >= first && j < n) Some((seenAt - due(j)) / 1e6) else None
    }

    if (checkAll) verify(ctx, d, Offered(ctx.a, feed.ticks(n - 1), feed.sensors(n - 1)),
      LiveStepMicros)

    Log.step(s"$tag: checked")
    if (ingestLat.size > 30) {
      // backlog drift: is the latency of the last third above the first's?
      val k = ingestLat.size / 3
      Log.step(f"$tag: ingest p50 first third ${Stat.median(ingestLat.take(k).toSeq)}%.0f ms, " +
        f"last third ${Stat.median(ingestLat.takeRight(k).toSeq)}%.0f ms")
    }
    val ingestP50 = if (ingestLat.isEmpty) 0.0 else Stat.median(ingestLat.toSeq)
    new Run(ingestP50, (c, e2e) =>
      if (e2e) {
        // the operation is an event: due time → its RAW commit returns
        c.metric("latency_p50_ms", ingestP50, "ms", ingestLat.size)
        c.metric("latency_p90_ms", Stat.quantile(ingestLat.toSeq, 0.9), "ms", ingestLat.size)
        c.metric("ops_per_s", eventsPerS, "1/s", committedMeasured)
        c.metric("cep_p50_ms", Stat.median(cepLat), "ms", cepLat.size)
        Log.step(s"live: offered $n, measured ${n - first}, batches ${cs.size}, " +
          s"matches ${cepLat.size}, windows ${exportLat.size}")
      } else {
        layerMetrics(c, d, qs, prog, taps, n.toLong, watch.stagedMax)
        c.metric("export.visible_p50_ms", if (exportLat.isEmpty) 0.0 else Stat.median(exportLat),
          "ms", exportLat.size)
        c.metric("gen.late_ms", Stat.quantile(late.toSeq.map(_ / 1e6), 0.99), "ms", n)
      })
  }

  /** Epoch micros of an export partition key (yyyy-MM-dd'T'HH-mm, UTC). */
  private def keyMicros(key: String): Long =
    java.time.LocalDateTime.parse(key, java.time.format.DateTimeFormatter.ofPattern(
      "yyyy-MM-dd'T'HH-mm")).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L

  // ------------------------------------------------------------ backfill

  /** The catch-up shape (the reference's TRIM_HORIZON restart): the same
    * three queries drain a JSON-line backlog under `Trigger.AvailableNow`,
    * one file per micro-batch. Traced runs of `fleet_live` run it on
    * local[N] and local[1] for each layer's parallel speed-up. */
  def backfill(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val a = ctx.a
    def write(dir: String, fromTick: Long, toTick: Long, files: Int): Long = {
      val f = Gen.feed(spark, a.seed, fromTick, toTick)
      val per = (toTick - fromTick) / files
      new File(dir).mkdirs()
      (0 until files).foreach { k =>
        val lo = fromTick + k * per
        val hi = if (k == files - 1) toTick else lo + per
        val lines = f.lines.indices.filter(j => f.ticks(j) >= lo && f.ticks(j) < hi).map(f.lines)
        val p = Paths.get(dir, f"part-$k%03d.json")
        Files.write(p, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
        // the file source takes files oldest first: pin the stream order
        p.toFile.setLastModified(1600000000000L + k * 1000L)
      }
      f.lines.length.toLong
    }
    // one pass on a small backlog first, so the measured drain runs warm
    val (warm, backlog, events) = ctx.setup(1) { dir =>
      write(s"$dir/warm", 0, 120, 2)
      val n = write(s"$dir/backlog", 0, BackfillTicks, BackfillFiles)
      (s"$dir/warm", s"$dir/backlog", n)
    }
    drain(ctx, warm, "warm", 0L)
    ctx.measured(drain(ctx, backlog, "drain", events)).report(ctx, false)
  }

  private def drain(ctx: Ctx, backlog: String, tag: String, events: Long): Run = {
    val spark = ctx.spark
    val d = new Dirs(ctx.dir(tag))
    def src = spark.readStream.schema("value STRING").option("maxFilesPerTrigger", 1)
      .text(backlog)
    val taps = new Taps
    val progress0 = ctx.progress.size
    val t0 = System.nanoTime()
    val qs = start(ctx, d, src, src, src, Trigger.AvailableNow(), BackfillStepMicros, taps)
    val watch = new ExportWatch(d)
    watch.start()
    qs.foreach(_._2.awaitTermination())
    val wall = (System.nanoTime() - t0) / 1e9
    watch.running = false
    watch.join()
    val prog = ctx.progress.asScala.drop(progress0).toSeq
    new Run(0.0, (c, _) => {
      c.metric("backfill.events_per_s", events / wall, "1/s", events)
      layerMetrics(c, d, qs, prog, taps, events, watch.stagedMax)
    })
  }

  // -------------------------------------------------------------- layers

  private def layerMetrics(c: Ctx, d: Dirs, qs: Seq[(String, StreamingQuery)],
      prog: Seq[StreamingQueryProgress], taps: Taps, events: Long, stagedMax: Int): Unit = {
    def of(layer: String) = {
      val id = qs.find(_._1 == layer).get._2.id
      prog.filter(p => p.id == id && p.durationMs.containsKey("addBatch"))
    }
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def med(ps: Seq[StreamingQueryProgress], f: StreamingQueryProgress => Double) =
      if (ps.isEmpty) 0.0 else Stat.median(ps.map(f))
    val offsetKeys = Seq("latestOffset", "getBatch", "walCommit", "commitOffsets")

    // progress → spans: each batch, and its phases laid end to end
    qs.foreach { case (layer, q) =>
      prog.filter(p => p.id == q.id && p.durationMs.containsKey("addBatch")).foreach { p =>
        val start = Trace.fromWallMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val root = Span(Trace.nextId(), 0L, 0L, layer, "batch", start,
          start + (dur(p, "triggerExecution") * 1e6).toLong, layer)
        Trace.spans.add(root)
        var t = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foreach { k =>
            val len = (dur(p, k) * 1e6).toLong
            if (len > 0) {
              val l = k match {
                case "queryPlanning" => "Runtime"
                case "addBatch" if layer == "Ingest" => "VersionedLake"
                case _ => layer
              }
              Trace.spans.add(Span(Trace.nextId(), root.id, root.id, l, k, t, t + len, layer))
            }
            t += len
          }
      }
    }

    val rawP = of("Ingest")
    val rawJobs = c.runtime.jobs.values.asScala.filter(_.layer == "Ingest").toSeq
    c.metric("ingest.batch_ms", med(rawP, dur(_, "triggerExecution")), "ms", rawP.size)
    c.metric("ingest.plan_ms", med(rawP, dur(_, "queryPlanning")), "ms", rawP.size)
    c.metric("ingest.exec_ms", med(rawP, { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      val e = s + dur(p, "triggerExecution").toLong
      rawJobs.filter(j => j.start >= s && j.start <= e).map(j => (j.end - j.start).toDouble).sum
    }), "ms", rawP.size)
    c.metric("ingest.offsets_ms", med(rawP, p => offsetKeys.map(dur(p, _)).sum), "ms", rawP.size)
    c.metric("ingest.rows_per_batch", med(rawP, _.numInputRows.toDouble), "count", rawP.size)

    val v = VersionedLake.currentVersion(d.raw)
    val files = VersionedLake.manifest(d.raw, v)
    val bytes = files.map { case (_, p) => new File(p).length() }.sum
    c.metric("lake.commit_ms", med(rawP, dur(_, "addBatch")), "ms", rawP.size)
    c.metric("lake.files_per_commit", files.size.toDouble / math.max(1, v), "count", v)
    c.metric("lake.versions", v, "count")
    c.metric("lake.files_end", files.size, "count")
    c.metric("lake.bytes_per_event", bytes.toDouble / math.max(1L, events), "B", events)

    val cepP = of("CepStream")
    val st = cepP.flatMap(_.stateOperators.headOption)
    c.metric("cep.batch_ms", med(cepP, dur(_, "triggerExecution")), "ms", cepP.size)
    c.metric("cep.state_rows", if (st.isEmpty) 0 else st.map(_.numRowsTotal).max, "count")
    c.metric("cep.state_mb", if (st.isEmpty) 0 else st.map(_.memoryUsedBytes).max / 1048576.0, "MB")
    c.metric("cep.late_dropped", st.map(_.numRowsDroppedByWatermark).sum, "count")
    c.metric("cep.matches", taps.matches.size, "count")
    val store = taps.storeMs.asScala.toSeq
    c.metric("cep.store_ms", if (store.isEmpty) 0 else Stat.median(store), "ms", store.size)

    val expP = of("Exporter")
    val windows = Option(new File(d.exp).list()).getOrElse(Array.empty[String])
      .count(_.startsWith("partition_key="))
    c.metric("export.tick_ms", med(expP, dur(_, "addBatch")), "ms", expP.size)
    c.metric("export.windows", windows, "count")
    c.metric("export.staged_dirs_max", stagedMax, "count")
  }

  // --------------------------------------------------------------- checks

  // Row-multiset digests per key (count and two 32-bit halves of summed
  // xxhash64): one aggregate per side; an exact diff only when they differ.
  private def digest(df: DataFrame, key: Column): Map[String, (Long, Long, Long)] = {
    val h = xxhash64(df.columns.map(col): _*)
    df.groupBy(key.cast("string").as("_k")).agg(count(lit(1)),
      sum(h.bitwiseAND(lit(0xffffffffL))), sum(shiftrightunsigned(h, 32)))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
  }

  private def badKeys(a: DataFrame, b: DataFrame, key: Column): Set[String] = {
    val (x, y) = (digest(a, key), digest(b, key))
    (x.keySet ++ y.keySet).filter(k => x.get(k) != y.get(k))
  }

  private def diff(a: DataFrame, b: DataFrame): Long =
    if (badKeys(a, b, lit("all")).isEmpty) 0L
    else a.exceptAll(b).count() + b.exceptAll(a).count()

  /** The export lake of `d` against `Exporter.backfillOnePass` over `ev` for
    * every window closed by `lastTick`: (windows, wrong windows). */
  private def exportCheck(ctx: Ctx, ev: DataFrame, d: Dirs, lastTick: Long,
      stepMicros: Long): (Long, Long) = {
    val spark = ctx.spark
    // fleet time starts on a window boundary; a window is closed once an
    // event at or after its end was offered
    val lastW = Math.floorDiv(lastTick * 1000000L, stepMicros) - 1
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    def ts(k: Long) = fmt.format(java.time.Instant.ofEpochSecond(
      (Gen.OriginMicros + k * stepMicros) / 1000000L))
    val windows = (0L to lastW).map(k => (ts(k), ts(k + 1)))
    val ref = ctx.dir(s"${new File(d.exp).getParentFile.getName}_export_ref")
    Exporter.backfillOnePass(ev, grid, ref, windows)
    val got = Exporter.readExport(spark, d.exp)
    val want = Exporter.readExport(spark, ref)
    // a window missing from both sides still counts: it should exist
    val bad = badKeys(got, want, col("partition_key")).size +
      math.max(0, windows.size - want.select("partition_key").distinct().count().toInt)
    (windows.size.toLong, math.min(windows.size.toLong, bad.toLong))
  }

  /** The events a run offered: the fleet's first ticks, up to and including
    * (lastTick, lastSensor). */
  final case class Offered(a: Args, lastTick: Long, lastSensor: Int)

  private def offeredDf(spark: SparkSession, o: Offered): DataFrame =
    Gen.fleet(spark, o.a.seed, 0, o.lastTick + 1)
      .filter(col("tick") < o.lastTick || col("sensor") <= o.lastSensor)

  /** RAW holds every offered event exactly once; the CEP store equals the
    * batch `Cep.matchesBatch`; the export lake equals
    * `Exporter.backfillOnePass` for every closed window. */
  def verify(ctx: Ctx, d: Dirs, o: Offered, stepMicros: Long): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val spark = ctx.spark
    val ev = offeredDf(spark, o).select(col("sensor_id"),
      timestamp_micros(col("event_time")).as("time"), col("temperature"), col("status"))
      .cache()
    val offered = ev.count()

    // the three checks are independent small jobs: run them side by side
    val raw = Future {
      val lake = VersionedLake.read(spark, d.raw).select(col("sensor_id"), col("time"),
        col("measure_value").as("temperature"), col("status"))
      val meta = VersionedLake.rowCount(spark, d.raw)
      ("raw lake holds each offered event once", offered,
        math.min(offered, diff(ev, lake) + math.abs(meta - offered)))
    }
    val cep = Future {
      val expected = Cep.matchesBatch(ev.withColumnRenamed("time", "event_time")
        .withColumn("event_id", unix_micros(col("event_time"))), cepParams)
      val n = math.max(1L, expected.count())
      ("cep store equals Cep.matchesBatch", n,
        math.min(n, diff(expected, spark.read.parquet(d.cep).drop("c_time"))))
    }
    val export = Future {
      val (total, bad) = exportCheck(ctx, ev, d, o.lastTick, stepMicros)
      ("export lake equals Exporter.backfillOnePass per closed window", total, bad)
    }
    Await.result(Future.sequence(Seq(raw, cep, export)), scala.concurrent.duration.Duration.Inf)
      .foreach { case (what, total, bad) => ctx.check(what, total, bad) }
    ev.unpersist()
  }
}
