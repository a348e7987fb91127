package graft

import graft.operators.TimeSeries.GridParams
import graft.streaming.Exporter
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Incremental export: idempotent windows, time-keyed partition layout
  * with pruning, and the retention drop job.
  */
class ExporterSpec extends SparkSpec {

  private val P = GridParams(key = "user_id", time = "ts", value = "value",
    status = "event_type", step = "1 HOUR")

  private def freshDir = {
    val p = Files.createTempDirectory("exporter_spec")
    p.toFile.deleteOnExit()
    p.toString
  }

  private val windows = Seq(
    ("2024-01-01", "2024-01-08"),
    ("2024-01-08", "2024-01-15"),
    ("2024-01-15", "2024-01-22"))

  test("re-running a window is idempotent (dynamic partition overwrite)") {
    val out = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    Exporter.backfillOnePass(events, P, out, windows)
    val first = Exporter.readExport(spark, out).collect().map(_.toSeq).toSet
    Exporter.backfillOnePass(events, P, out, Seq(windows(1)))
    val second = Exporter.readExport(spark, out).collect().map(_.toSeq).toSet
    assert(first == second)
    assert(first.nonEmpty)
  }

  test("partition layout prunes: a key filter reads only that partition's files") {
    val out = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    Exporter.backfillOnePass(events, P, out, windows)
    val all = Exporter.readExport(spark, out)
    val one = all.filter(col("partition_key") === "2024-01-08T00-00")
    // files actually read post-pruning (inputFiles ignores filters)
    val readFiles = one.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(readFiles.nonEmpty && readFiles.forall(_.contains("partition_key=2024-01-08T00-00")))
    assert(readFiles.length < all.inputFiles.length)
    assert(one.count() > 0)
  }

  test("retention drops partitions strictly below the cutoff key") {
    val out = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    Exporter.backfillOnePass(events, P, out, windows)
    val dropped = Exporter.dropPartitionsOlderThan(spark, out, "2024-01-15T00-00")
    assert(dropped.sorted == Seq("2024-01-01T00-00", "2024-01-08T00-00"))
    val left = Exporter.readExport(spark, out)
      .select("partition_key").distinct().collect().map(_.getString(0)).toSet
    assert(left == Set("2024-01-15T00-00"))
  }

  test("hot/cold tiered read: row-identical to the plain read, hot leg cached, cold leg prunes") {
    val out = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    Exporter.backfillOnePass(events, P, out, windows)
    val cutoff = "2024-01-08T00-00"
    val tiered = Exporter.hotColdRead(spark, out, cutoff)
    val plain = Exporter.readExport(spark, out)
    assert(tiered.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet)
    // the hot leg engaged the block-manager cache: an InMemoryRelation
    // appears in the tiered plan, and it covers ONLY hot partitions
    val physical = tiered.queryExecution.executedPlan.toString
    assert(physical.contains("InMemoryTableScan") || physical.contains("InMemoryRelation"),
      physical.take(2000))
    // a time filter into the cold tier reads only that partition's files
    val coldOnly = tiered.filter(col("partition_key") === "2024-01-01T00-00")
    val readFiles = coldOnly.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).filter(_.nonEmpty)
    assert(readFiles.nonEmpty &&
      readFiles.forall(_.contains("partition_key=2024-01-01T00-00")), readFiles.toSeq)
    // second tiered read reuses the SAME cached leg — the staleness
    // probe is one O(partitions) root listing, and a token hit must
    // not re-plan (no leaf-file listing): the build counter is flat
    val buildsAfterFirst = Exporter.hotLegBuilds
    val again = Exporter.hotColdRead(spark, out, cutoff)
    assert(again.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet)
    assert(Exporter.hotLegBuilds == buildsAfterFirst,
      "a token-hit read rebuilt the hot leg")
    // a LATER hot-tier write (new window exported above the cutoff)
    // invalidates the cached leg: the tiered read serves the new
    // partition instead of a stale frozen file listing — ONE rebuild
    // per invalidation, not one per read
    Exporter.backfillOnePass(events, P, out, Seq(("2024-01-22", "2024-01-29")))
    val tiered2 = Exporter.hotColdRead(spark, out, cutoff)
    assert(Exporter.hotLegBuilds == buildsAfterFirst + 1,
      "the partition write must invalidate exactly once")
    assert(tiered2.collect().map(_.toSeq).toSet ==
      Exporter.readExport(spark, out).collect().map(_.toSeq).toSet)
    assert(tiered2.filter(col("partition_key") === "2024-01-22T00-00").count() > 0)
    // and the read after the rebuild is a token hit again
    Exporter.hotColdRead(spark, out, cutoff)
    assert(Exporter.hotLegBuilds == buildsAfterFirst + 1)
    // SAME-partition rewrites invalidate EVERY time, even back-to-back
    // within one filesystem clock tick: the export manifest's counter
    // changes per write where a directory's modification time could
    // not — the staleness token is the manifest alone
    val b0 = Exporter.hotLegBuilds
    Exporter.backfillOnePass(events, P, out, Seq(("2024-01-22", "2024-01-29")))
    Exporter.hotColdRead(spark, out, cutoff)
    Exporter.backfillOnePass(events, P, out, Seq(("2024-01-22", "2024-01-29")))
    Exporter.hotColdRead(spark, out, cutoff)
    assert(Exporter.hotLegBuilds == b0 + 2,
      "each same-partition rewrite must invalidate the cached leg once")
    assert(new java.io.File(out, "_export_manifest").isFile)
  }

  test("one-pass backfill equals the serial per-window loop exactly") {
    val outA = freshDir; val outB = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    SerialExport.write(events, P, outA, windows)
    Exporter.backfillOnePass(events, P, outB, windows)
    val a = Exporter.readExport(spark, outA)
      .select("partition_key", "user_id", "time", "status", "temperature")
      .collect().map(_.toSeq).toSet
    val b = Exporter.readExport(spark, outB)
      .select("partition_key", "user_id", "time", "status", "temperature")
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("one-pass backfill handles 1000 windows without Catalyst blowup") {
    // 1000 daily windows spanning 2022-01-01..2024-09-27 (the events
    // fixture lives inside January 2024). The when-chain formulation
    // this replaced died in Catalyst optimize/codegen at this N; the
    // windows-table join must both complete AND equal the same one-pass
    // run restricted to the windows that actually hold data.
    val out1000 = freshDir; val outJan = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    def daily(from: java.time.LocalDate, n: Int): Seq[(String, String)] =
      (0 until n).map { i =>
        (from.plusDays(i.toLong).toString, from.plusDays(i.toLong + 1).toString)
      }
    Exporter.backfillOnePass(events, P, out1000,
      daily(java.time.LocalDate.of(2022, 1, 1), 1000))
    Exporter.backfillOnePass(events, P, outJan,
      daily(java.time.LocalDate.of(2024, 1, 1), 31))
    val a = Exporter.readExport(spark, out1000)
      .select("partition_key", "user_id", "time", "status", "temperature")
      .collect().map(_.toSeq).toSet
    val b = Exporter.readExport(spark, outJan)
      .select("partition_key", "user_id", "time", "status", "temperature")
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("one-pass backfill with non-uniform windows (range-join path) equals the serial loop") {
    val outA = freshDir; val outB = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    val mixed = Seq( // different widths: some windows span several bins
      ("2024-01-01", "2024-01-04"),
      ("2024-01-04", "2024-01-11"),
      ("2024-01-11", "2024-01-13"))
    SerialExport.write(events, P, outA, mixed)
    Exporter.backfillOnePass(events, P, outB, mixed)
    val a = Exporter.readExport(spark, outA)
      .select("partition_key", "user_id", "time", "status", "temperature")
      .collect().map(_.toSeq).toSet
    val b = Exporter.readExport(spark, outB)
      .select("partition_key", "user_id", "time", "status", "temperature")
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("retention also drops raw-prefix partitions below the cutoff") {
    val out = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    windows.foreach { case (s, e) => Exporter.exportWindowRawPrefix(events, P, out, s, e) }
    val dropped = Exporter.dropPartitionsOlderThan(spark, out, "2024-01-15T00-00")
    assert(dropped.sorted == Seq("2024-01-01T00-00", "2024-01-08T00-00"))
    val left = Exporter.readRawPrefixExport(spark, out)
      .select("partition_key").distinct().collect().map(_.getString(0)).toSet
    assert(left == Set("2024-01-15T00-00"))
  }

  test("a raw-prefix lake with no window prefix is refused, not read as empty") {
    val out = freshDir
    val e = intercept[IllegalArgumentException](Exporter.readRawPrefixExport(spark, out))
    assert(e.getMessage.contains("holds no window prefix"), e.getMessage)
  }

  test("window assignment plans a broadcast HASH join for uniform windows") {
    val events = Tables.events(spark, sf("sf0.001"))
    val uniform = Exporter.tagWindows(events, P, windows)
      .queryExecution.executedPlan.toString
    // O(1)-per-event slot lookup at any window count — never a
    // nested-loop scan over N windows
    assert(uniform.contains("BroadcastHashJoin"), uniform)
    assert(!uniform.contains("BroadcastNestedLoopJoin"), uniform)
    val mixed = Exporter.tagWindows(events, P, Seq(
      ("2024-01-01", "2024-01-04"), ("2024-01-04", "2024-01-11")))
      .queryExecution.executedPlan.toString
    // arbitrary widths take the same binned equi-join — a hash join
    assert(mixed.contains("BroadcastHashJoin"), mixed)
    assert(!mixed.contains("BroadcastNestedLoopJoin"), mixed)
  }

  test("10,000 non-uniform windows: hash-join plan and the serial-loop answer") {
    val events = Tables.events(spark, sf("sf0.001"))
    // 10k windows alternating 5 and 7 minutes wide, covering Jan 2 on —
    // widths differ, so a 7-minute window spans two or three 5-minute
    // bins; the binned equi-join must keep this a broadcast HASH join
    // (the BNLJ this replaced did 10k comparisons per event here)
    val base = java.time.LocalDateTime.of(2024, 1, 2, 0, 0)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    var t = base
    val wins = (0 until 10000).map { i =>
      val width = if (i % 2 == 0) 5L else 7L
      val s = t; t = t.plusMinutes(width)
      (s.format(fmt), t.format(fmt))
    }
    val tagged = Exporter.tagWindows(events, P, wins)
    val plan = tagged.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // correctness vs the O(N)-scan definition, computed driver-side
    val bounds = wins.map { case (s, e) =>
      (java.sql.Timestamp.valueOf(s).getTime, java.sql.Timestamp.valueOf(e).getTime) }
    val got = tagged.select(col("event_id"), col("_w")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = events.select(col("event_id"), col("ts")).collect().flatMap { r =>
      val ms = r.getTimestamp(1).getTime
      val w = bounds.indexWhere { case (s, e) => ms >= s && ms < e }
      if (w >= 0) Some(r.getLong(0) -> w) else None
    }.toMap
    assert(got == want && got.nonEmpty)
  }

  test("continuous exporter: streaming ticks equal batch backfill; restart adds no duplicate partitions") {
    val in = freshDir; val staging = freshDir; val out = freshDir; val ckpt = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    // the stream source: January's events arriving in TIME ORDER (4
    // sequential files, one per ~week), drained over several
    // micro-batches. Completeness-by-max-event-time assumes a roughly
    // time-ordered stream — the same contract as the reference DAG's
    // wall-clock window (its C2 processing-time divergence, documented
    // there), so the fixture must honor it.
    Seq(("2024-01-01", "2024-01-09"), ("2024-01-09", "2024-01-17"),
      ("2024-01-17", "2024-01-25"), ("2024-01-25", "2024-02-01")).foreach {
      case (s, e) =>
        events.filter(col("ts") >= lit(s).cast("timestamp") &&
          col("ts") < lit(e).cast("timestamp"))
          .coalesce(1).write.mode("append").parquet(in)
    }
    val step = 7L * 24 * 3600 * 1000000L // weekly windows, epoch-aligned
    def run(): Unit = {
      val src = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Exporter.continuousExport(src, P, staging, out, ckpt, step)
      q.awaitTermination()
    }
    run()
    val gotKeys = Exporter.readExport(spark, out)
      .select("partition_key").distinct().collect().map(_.getString(0)).toSet
    // batch ground truth: each window the stream saw as complete (an
    // event at-or-after its end exists), exported on its own
    val hi = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val windows = gotKeys.toSeq.sorted.map { k =>
      val s = java.time.LocalDateTime.parse(k, java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH-mm"))
      (s.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")),
        s.plusDays(7).format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")))
    }
    // every streamed window really is complete, and nothing complete is missing
    windows.foreach { case (_, e) =>
      assert(java.sql.Timestamp.valueOf(e).getTime * 1000 <= hi, s"incomplete window exported: $e") }
    val outB = freshDir
    SerialExport.write(events, P, outB, windows)
    val cols = Seq("partition_key", "user_id", "time", "status", "temperature")
    val a = Exporter.readExport(spark, out).select(cols.map(col): _*)
      .collect().map(_.toSeq).toSet
    val b = Exporter.readExport(spark, outB).select(cols.map(col): _*)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
    // restart with the same checkpoint: one late file closes the next
    // window; the rerun exports ONLY that window, no duplicates
    val closer = events.limit(1)
      .withColumn("ts", lit("2024-02-12 00:00:00").cast("timestamp"))
    closer.write.mode("append").parquet(in)
    run()
    val after = Exporter.readExport(spark, out)
      .select("partition_key").distinct().collect().map(_.getString(0)).toSet
    assert(gotKeys.subsetOf(after), "restart dropped existing partitions")
    assert((after -- gotKeys).size >= 1, "restart exported nothing new")
    // previously exported windows are untouched row-for-row
    val aAfter = Exporter.readExport(spark, out)
      .filter(col("partition_key").isin(gotKeys.toSeq: _*))
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(aAfter == a)
  }

  test("continuous exporter staging is history-independent: bounded prefixes, trimmed pending") {
    val in = freshDir; val staging = freshDir; val out = freshDir; val ckpt = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    // 8 arrival files → 8 ticks (maxFilesPerTrigger=1): a stream 8
    // ticks old must stage the same number of prefixes as one 3 ticks
    // old, or per-tick cost grows linearly with stream age
    (0 until 8).foreach { i =>
      val s = java.time.LocalDate.of(2024, 1, 1).plusDays(4L * i)
      events.filter(col("ts") >= lit(s.toString).cast("timestamp") &&
        col("ts") < lit(s.plusDays(4).toString).cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(in)
    }
    val step = 7L * 24 * 3600 * 1000000L
    val src = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    Exporter.continuousExport(src, P, staging, out, ckpt, step)
      .awaitTermination()
    // staging holds at most: the last batch, the last pending
    // snapshot, and its replay-fallback predecessor — NOT 8 batches
    val staged = new java.io.File(staging).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq
    assert(staged.size <= 3, s"staging grew with stream age: $staged")
    assert(staged.count(_.startsWith("b")) <= 1, staged.toString)
    // the surviving pending snapshot holds ONLY live rows (at or past
    // the last exported window's end) — history was trimmed, and the
    // trimmed rows are exactly the exported windows' rows
    val lastPending = staged.filter(_.startsWith("p")).map(_.drop(1).toLong).max
    val pend = spark.read.parquet(s"$staging/p$lastPending")
    val exportedKeys = Exporter.readExport(spark, out)
      .select("partition_key").distinct().collect().map(_.getString(0)).toSet
    assert(exportedKeys.nonEmpty)
    val lastEnd = java.time.LocalDateTime.parse(exportedKeys.max,
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH-mm"))
      .plusDays(7)
    assert(pend.filter(col("ts") <
      lit(lastEnd.toString.replace('T', ' ')).cast("timestamp")).count() == 0,
      "pending snapshot still carries exported-window rows")
    // and the stream's lake equals those windows exported one by one
    val outB = freshDir
    val ws = exportedKeys.toSeq.sorted.map { k =>
      val s = java.time.LocalDateTime.parse(k,
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH-mm"))
      val f = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      (s.format(f), s.plusDays(7).format(f))
    }
    SerialExport.write(events, P, outB, ws)
    val cols = Seq("partition_key", "user_id", "time", "status", "temperature")
    assert(Exporter.readExport(spark, out).select(cols.map(col): _*)
      .collect().map(_.toSeq).toSet ==
      Exporter.readExport(spark, outB).select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet)
  }

  test("staging refusal: older b* prefixes with no pending snapshot fail the tick, naming the directory") {
    val staging = freshDir; val out = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    val step = 7L * 24 * 3600 * 1000000L
    // batch prefixes 0 and 1 on disk and NO pending snapshot: a layout
    // no tick writes (every tick leaves p<id> behind before its batch
    // prefixes retire)
    def slice(lo: String, hi: String) = events.filter(
      col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp"))
    slice("2024-01-01", "2024-01-06").write.parquet(s"$staging/b0")
    slice("2024-01-06", "2024-01-12").write.parquet(s"$staging/b1")
    slice("2024-01-12", "2024-01-19").write.parquet(s"$staging/b2")
    val err = intercept[IllegalStateException](
      graft.streaming.Exporter.exportTick(spark, P, staging, out, step, 0L, id = 2))
    assert(err.getMessage.contains(staging) && err.getMessage.contains("b0, b1"),
      err.getMessage)
    // nothing was exported, staged or retired
    assert(new java.io.File(out).listFiles().isEmpty)
    assert(!new java.io.File(s"$staging/p2").exists())
    assert(Seq("b0", "b1", "b2").forall(b => new java.io.File(s"$staging/$b").exists()))
  }

  test("raw-prefix layout holds the same data as the hive layout, key recovered from the path") {
    val outHive = freshDir; val outRaw = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    Exporter.backfillOnePass(events, P, outHive, Seq(windows(0)))
    Exporter.exportWindowRawPrefix(events, P, outRaw, windows(0)._1, windows(0)._2)
    val cols = Seq("partition_key", "user_id", "time", "status", "temperature")
    val hive = Exporter.readExport(spark, outHive)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val raw = Exporter.readRawPrefixExport(spark, outRaw)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(raw == hive && raw.nonEmpty)
  }

  test("all-empty windows tag nothing instead of throwing (non-uniform path)") {
    val events = Tables.events(spark, sf("sf0.001"))
    // every window zero-width: no positive width exists to bin by —
    // the guard must return an empty tagged frame, not trip empty.min
    val degenerate = Seq(
      ("2024-01-01", "2024-01-01"),
      ("2024-01-08", "2024-01-08"))
    val tagged = Exporter.tagWindows(events, P, degenerate)
    assert(tagged.count() == 0)
    // a mix of empty and real windows still tags the real one only
    val mixed = Seq(
      ("2024-01-01", "2024-01-01"),
      ("2024-01-01", "2024-01-04"),
      ("2024-01-04", "2024-01-04"))
    val tagged2 = Exporter.tagWindows(events, P, mixed)
    val ws = tagged2.select("_w").distinct().collect().map(_.getInt(0)).toSet
    assert(ws == Set(1))
  }

  test("completeness slack holds back the stream-head window until max >= end + slack") {
    val staging = freshDir; val outNoSlack = freshDir; val outSlack = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    // epoch-aligned weekly windows break on Thursdays: ..., 2024-01-04,
    // 2024-01-11, ... — stage data to 6h past the 2024-01-11 boundary
    events.filter(col("ts") < lit("2024-01-11 06:00:00").cast("timestamp"))
      .write.mode("overwrite").parquet(staging)
    val staged = spark.read.parquet(staging)
    val step = 7L * 24 * 3600 * 1000000L // weekly, epoch-aligned
    // no slack: max(ts) just past the Jan-8..Jan-15 window end exports it
    val (k0, f0) = graft.streaming.Exporter.exportCompleteWindows(
      staged, P, outNoSlack, step)
    // 12h slack: the same window is NOT yet complete (max < end + slack),
    // so only the first window exports — the export trails the head
    val (k1, f1) = graft.streaming.Exporter.exportCompleteWindows(
      staged, P, outSlack, step, slackMicros = 12L * 3600 * 1000000L)
    assert(k0.size == k1.size + 1, s"noSlack=$k0 slack=$k1")
    assert(k1.toSet.subsetOf(k0.toSet))
    // the live floor trails by exactly one window under the slack
    assert(f0 == f1 + step, s"floors: $f0 vs $f1")
  }

  test("windowed export equals flagship computed directly on that window") {
    val out = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    Exporter.backfillOnePass(events, P, out, Seq(("2024-01-01", "2024-01-08")))
    val exported = Exporter.readExport(spark, out)
      .select("user_id", "time", "status", "temperature")
      .collect().map(_.toSeq).toSet
    val direct = graft.operators.TimeSeries.flagship(
      events.filter(col("ts") >= lit("2024-01-01").cast("timestamp") &&
        col("ts") < lit("2024-01-08").cast("timestamp")), P)
      .collect().map(_.toSeq).toSet
    assert(exported == direct && direct.nonEmpty)
  }

  // ---- the window rule: refusals, and the key at the window's resolution

  test("a window bound the timestamp parser rejects is refused, naming the window") {
    val out = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    val err = intercept[IllegalArgumentException](
      Exporter.backfillOnePass(events, P, out, Seq(("2024-01-01", "2024-13-45"))))
    assert(err.getMessage.contains("[2024-01-01, 2024-13-45)"), err.getMessage)
    assert(new java.io.File(out).listFiles().isEmpty)
  }

  test("a window that ends before it starts is refused, naming the window") {
    val out = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    val err = intercept[IllegalArgumentException](Exporter.backfillOnePass(events, P, out,
      Seq(("2024-01-01", "2024-01-08"), ("2024-01-15", "2024-01-08"))))
    assert(err.getMessage.contains("[2024-01-15, 2024-01-08)") &&
      err.getMessage.contains("ends before it starts"), err.getMessage)
    assert(new java.io.File(out).listFiles().isEmpty)
  }

  test("a positive window shorter than one second is refused, naming the window") {
    val out = freshDir
    val events = Tables.events(spark, sf("sf0.001"))
    val err = intercept[IllegalArgumentException](Exporter.exportWindowRawPrefix(events, P, out,
      "2024-01-01 00:00:00", "2024-01-01 00:00:00.5"))
    assert(err.getMessage.contains("[2024-01-01 00:00:00, 2024-01-01 00:00:00.5)") &&
      err.getMessage.contains("shorter than one second"), err.getMessage)
    assert(new java.io.File(out).listFiles().isEmpty)
  }

  test("hot/cold read refuses a lake with no export manifest, naming it") {
    val out = freshDir
    SerialExport.write(Tables.events(spark, sf("sf0.001")), P, out, windows.take(1))
    val err = intercept[IllegalArgumentException](
      Exporter.hotColdRead(spark, out, "2024-01-08T00-00"))
    assert(err.getMessage.contains(out) && err.getMessage.contains("_export_manifest"),
      err.getMessage)
  }

  /** Two users, one event each per second for `seconds` seconds from
    * 2024-03-01 00:00:00: every window of a second or more holds data. */
  private def perSecond(seconds: Int) =
    spark.range(2L * seconds).select(
      concat(lit("u"), (col("id") % 2).cast("string")).as("user_id"),
      timestamp_seconds(unix_seconds(lit("2024-03-01 00:00:00").cast("timestamp")) +
        floor(col("id") / 2)).as("ts"),
      (col("id") % 7).cast("double").as("value"),
      when(col("id") % 3 === 0, "run").otherwise("idle").as("event_type"))

  private val PerSecondP = P.copy(step = "2 SECONDS")

  private def fmtWindow(from: java.time.LocalDateTime, stepS: Long, k: Long) = {
    val f = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    (from.plusSeconds(k * stepS).format(f), from.plusSeconds((k + 1) * stepS).format(f))
  }

  /** Four minutes of per-second events streamed a minute per tick through
    * `continuousExport` at `stepS`: the lake holds one partition per closed
    * window and equals [[SerialExport]] over exactly those windows. */
  private def streamMatchesSerial(stepS: Long): Unit = {
    val in = freshDir; val staging = freshDir; val out = freshDir; val ckpt = freshDir
    val events = perSecond(240)
    val from = java.time.LocalDateTime.of(2024, 3, 1, 0, 0)
    (0 until 4).foreach { i =>
      val (lo, hi) = fmtWindow(from, 60, i)
      events.filter(col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(in)
    }
    val src = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    Exporter.continuousExport(src, PerSecondP, staging, out, ckpt, stepS * 1000000L)
      .awaitTermination()
    // a window is closed once an event at or after its end exists: the
    // last event is at 239 s
    val closed = (0L until 239 / stepS).map(fmtWindow(from, stepS, _))
    val outB = freshDir
    SerialExport.write(events, PerSecondP, outB, closed)
    val cols = Seq("partition_key", "user_id", "time", "status", "temperature")
    def rows(dir: String) = Exporter.readExport(spark, dir).select(cols.map(col): _*)
      .collect().map(_.toSeq).toSet
    val keys = Exporter.readExport(spark, out).select(col("partition_key").cast("string"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(keys.size == closed.size,
      s"${closed.size} closed windows, partitions: ${keys.toSeq.sorted}")
    val want = rows(outB)
    assert(rows(out) == want && want.map(_.head).size == closed.size)
  }

  test("continuous exporter at a 10 s step equals SerialExport: one second-keyed partition per closed window") {
    streamMatchesSerial(10)
  }

  test("continuous exporter at a 60 s step equals SerialExport: one minute-keyed partition per closed window") {
    streamMatchesSerial(60)
  }

  test("retention with a minute cutoff drops second keys strictly below it") {
    val out = freshDir
    val from = java.time.LocalDateTime.of(2024, 3, 1, 0, 0, 50)
    Exporter.backfillOnePass(perSecond(120), PerSecondP, out,
      (0L until 3).map(fmtWindow(from, 10, _)))
    def keys = Exporter.readExport(spark, out).select(col("partition_key").cast("string"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(keys == Set("2024-03-01T00-00-50", "2024-03-01T00-01-00", "2024-03-01T00-01-10"))
    // a minute key sorts before every second key inside its minute
    assert(Exporter.dropPartitionsOlderThan(spark, out, "2024-03-01T00-01") ==
      Seq("2024-03-01T00-00-50"))
    assert(keys == Set("2024-03-01T00-01-00", "2024-03-01T00-01-10"))
  }
}
