package graft.streaming

import graft.operators.TimeSeries
import graft.operators.TimeSeries.GridParams
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.hadoop.fs.Path

/** C6/S6 — the scheduled incremental export of the reference
  * (mwaa/mwaa-cdk/dags/timestream-airflow-demo.py:37-93): every run
  * computes the flagship query over idempotent [start, end) windows and
  * lands each window in the lake under a partition key derived from its
  * start (P13, `:41-43,69`). Backfill = the same run over many windows
  * (timestream-backfill.py:33-37).
  *
  * One writer, [[backfillOnePass]], serves every shape: a scheduled
  * window is a call over one window, a backfill a call over many, and a
  * live tick of [[continuousExport]] a call over the windows it closed.
  * [[exportWindowRawPrefix]] writes the same windowed frame under a raw
  * prefix. [[resolveWindows]] is the one window rule: bounds are parsed,
  * checked and keyed on the driver, so no Spark job names a window.
  *
  * Key rule: the window's start as `yyyy-MM-dd'T'HH-mm` (the
  * reference's layout) when the call's shortest positive window is at
  * least a minute, as `yyyy-MM-dd'T'HH-mm-ss` otherwise. Non-overlapping
  * windows at least one key unit wide start a unit apart, so their keys
  * differ. A minute key sorts before every second key inside its minute,
  * so cutoffs compare keys lexicographically at either resolution.
  *
  * Spark-native layout decisions:
  *  - `partitionBy(partition_key)` instead of raw prefixes: Catalyst
  *    prunes partitions on `WHERE partition_key …` for free, which raw
  *    `2021-10-26T11:35/` prefixes would not give (SURVEY §4).
  *  - dynamic partition overwrite: re-running a window replaces exactly
  *    that window's partition — idempotence without touching siblings.
  *  - parquet instead of CSV at rest (S7; the reference suggests it,
  *    README.md:195); the enrichment query reads it back schema-typed.
  */
object Exporter {

  private val MicrosPerSecond = 1000000L

  /** One export window resolved on the driver: [startUs, endUs) in
    * epoch micros, and its partition key. */
  private[graft] final case class Window(startUs: Long, endUs: Long, key: String)

  private def sessionZone(spark: SparkSession): java.time.ZoneId =
    DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))

  /** `date_format`'s own formatter for `pattern` in `zone`. */
  private def formatter(pattern: String, zone: java.time.ZoneId): TimestampFormatter =
    TimestampFormatter(pattern, zone, LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = false)

  /** The key rule (see the object doc), chosen once per call from its
    * shortest positive window. */
  private def keyFormatter(zone: java.time.ZoneId, shortestUs: Long): TimestampFormatter =
    formatter(if (shortestUs >= 60 * MicrosPerSecond) "yyyy-MM-dd'T'HH-mm"
      else "yyyy-MM-dd'T'HH-mm-ss", zone)

  /** The one window rule. Each bound is parsed by the parser the
    * timestamp cast uses, in the session time zone. Refused, naming the
    * window: a bound that parser rejects, an end before the start, a
    * positive window shorter than one second (no key tells it apart),
    * and overlapping positive windows (an event belongs to one window).
    * Zero-width windows are legal and empty. */
  private[graft] def resolveWindows(spark: SparkSession,
      windows: Seq[(String, String)]): Seq[Window] = {
    require(windows.nonEmpty, "an export needs at least one window")
    val zone = sessionZone(spark)
    def name(w: (String, String)) = s"export window [${w._1}, ${w._2})"
    val bounds = windows.map { w =>
      def parse(b: String): Long =
        DateTimeUtils.stringToTimestamp(UTF8String.fromString(b), zone).getOrElse(
          throw new IllegalArgumentException(s"${name(w)}: '$b' is not a timestamp"))
      val (s, e) = (parse(w._1), parse(w._2))
      if (e < s) throw new IllegalArgumentException(s"${name(w)} ends before it starts")
      if (e > s && e - s < MicrosPerSecond) throw new IllegalArgumentException(
        s"${name(w)} is shorter than one second: no partition key tells it apart")
      (s, e)
    }
    val positive = bounds.zip(windows).filter { case ((s, e), _) => e > s }.sortBy(_._1._1)
    positive.sliding(2).foreach {
      case Seq(((_, e1), w1), ((s2, _), w2)) if e1 > s2 =>
        throw new IllegalArgumentException(s"${name(w1)} overlaps ${name(w2)}")
      case _ =>
    }
    val key = keyFormatter(zone,
      positive.map { case ((s, e), _) => e - s }.minOption.getOrElse(Long.MaxValue))
    bounds.map { case (s, e) => Window(s, e, key.format(s)) }
  }

  /** Events tagged with their window: `_w` (its index) and its
    * `partition_key`. A binned broadcast equi-join against a windows
    * table built on the driver, never a per-window expression chain (a
    * 100k-window backfill would hand Catalyst a 100k-node tree): the bin
    * width is the shortest positive window, each window lists the bins it
    * covers (at most two per window of that width, so the table is
    * windows-sized), each event computes its one bin, and the hash join
    * on the bin is followed by the exact containment filter. O(1) probes
    * per event at any window count, no nested-loop join. Exposed for plan
    * audits. */
  private[graft] def tagWindows(events: DataFrame, p: GridParams,
      windows: Seq[(String, String)]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ws = resolveWindows(spark, windows).zipWithIndex
      .filter { case (w, _) => w.endUs > w.startUs }
    // every window zero-width: no event can match and no width to bin by
    if (ws.isEmpty)
      return events.filter(lit(false)).withColumn("_w", lit(0))
        .withColumn("partition_key", lit(""))
    val binW = ws.map { case (w, _) => w.endUs - w.startUs }.min
    // `div` and Long `/` both truncate, which is monotone in t: [s, e)
    // meets exactly the bins s / binW .. (e - 1) / binW
    val bins = ws.flatMap { case (w, i) =>
      (w.startUs / binW to (w.endUs - 1) / binW).map(b => (b, i, w.startUs, w.endUs, w.key))
    }.toDF("_wbin", "_w", "_su", "_eu", "partition_key")
    val tUs = unix_micros(col(p.time))
    events
      .withColumn("_wbin", call_function("div", tUs, lit(binW)))
      .join(broadcast(bins), "_wbin")
      .filter(tUs >= col("_su") && tUs < col("_eu"))
      .drop("_wbin", "_su", "_eu")
  }

  /** The flagship over every window with its `partition_key`: the window
    * folds into the interpolation key, so one pass computes each window's
    * independent grid (per (key, window) min/max, what a run over the
    * window alone computes). */
  private def windowed(events: DataFrame, p: GridParams,
      windows: Seq[(String, String)]): DataFrame = {
    val tagged = tagWindows(events, p, windows).withColumn("_ek",
      struct(col(p.key).as("k"), col("_w").as("w"), col("partition_key").as("pk")))
    TimeSeries.flagship(tagged, p.copy(key = "_ek"))
      .select(col("_ek.k").as(p.key), col("time"), col("status"),
        col("temperature"), col("_ek.pk").as("partition_key"))
  }

  /** The export writer: the flagship over every [start, end) window (see
    * [[resolveWindows]]) in one job, written as one dynamic-partition
    * overwrite under the windows' keys and one manifest bump. Re-running
    * a window replaces exactly its partition. */
  def backfillOnePass(events: DataFrame, p: GridParams, outDir: String,
      windows: Seq[(String, String)]): Unit = {
    windowed(events, p, windows)
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("partition_key")
      .parquet(outDir)
    bumpExportManifest(events.sparkSession, outDir)
  }

  /** Read the exported lake layout back (partition column included,
    * partition pruning available to any filter on it). */
  def readExport(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)

  /** Cached hot legs, keyed (lake, cutoff) — see [[hotColdRead]]. Each
    * carries the staleness token its plan was built under: a changed
    * token (any write or retention drop) REPLACES the leg — old blocks
    * unpersisted, fresh plan cached — instead of serving stale files.
    * Distinct cutoffs coexist (a 24h dashboard and a 7d verifier on the
    * same lake each keep their leg cached), bounded at
    * [[MaxHotLegsPerLake]] per lake with least-recently-used eviction, so
    * a MOVING cutoff (a new key every day) cannot accumulate overlapping
    * pinned copies without bound.
    * The registry's releases (bench/verify clear caches between gates)
    * are honored by re-persisting a leg whose storage level was
    * dropped. */
  private final class HotLeg(val token: String, val df: DataFrame,
    var used: Long)
  private val hotLegs = scala.collection.mutable.Map.empty[(String, String), HotLeg]
  private var hotLegClock = 0L
  private val MaxHotLegsPerLake = 4
  /** Observability hook for the spec: how many times a hot leg was
    * (re)built — a token-hit read must not re-list or re-plan. */
  private[graft] var hotLegBuilds = 0L

  /** The export lake's own manifest: a tiny file at the lake root
    * holding "<counter>-<nonce>", rewritten (atomic rename) by every
    * write to a hive-layout lake: [[backfillOnePass]] and
    * [[dropPartitionsOlderThan]]. Its counter+nonce changes on EVERY
    * write, whatever the clock or the store, where a directory's
    * modification time does not: object stores keep none, and two
    * rewrites of one partition within a filesystem clock tick share one.
    * The `_` prefix keeps it out of every parquet directory listing
    * (Spark's hidden-file filter). */
  private val ExportManifestName = "_export_manifest"

  private def bumpExportManifest(spark: SparkSession, outDir: String): Unit = {
    val fs = new Path(outDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(outDir)
    if (!fs.exists(root)) return
    val dst = new Path(root, ExportManifestName)
    val counter = readExportManifest(fs, dst)
      .map(_.takeWhile(_.isDigit)).filter(_.nonEmpty)
      .map(_.toLong).getOrElse(0L) + 1L
    val tmp = new Path(root, s".${ExportManifestName}.tmp${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(s"$counter-${System.nanoTime()}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // two concurrent bumps may both write counter+1 — the nonce keeps
    // their contents distinct, so any interleaved reader still sees a
    // token change. A tiered read inside the delete→rename gap finds no
    // manifest and is refused: reads and writes of one lake do not
    // overlap anywhere in this repository
    if (fs.exists(dst)) fs.delete(dst, false)
    fs.rename(tmp, dst)
    ()
  }

  private def readExportManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Option[String] =
    if (!fs.exists(p)) None
    else scala.util.Try {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](256)
        val n = in.read(bytes)
        new String(bytes, 0, math.max(n, 0),
          java.nio.charset.StandardCharsets.UTF_8).trim
      } finally in.close()
    }.toOption

  /** The staleness token: the content of the lake's export manifest,
    * one small file read. A lake with no manifest was not written by
    * this module, so its writes cannot be seen: refused, naming it. */
  private def lakeToken(spark: SparkSession, outDir: String): String = {
    val manifest = new Path(outDir, ExportManifestName)
    readExportManifest(manifest.getFileSystem(spark.sparkContext.hadoopConfiguration),
      manifest).getOrElse(throw new IllegalArgumentException(
        s"export lake $outDir has no $ExportManifestName: only a lake written by " +
          "Exporter can be read through the hot tier"))
  }

  /** §1.6 hot/cold STORAGE TIERS: Timestream serves a recent window
    * from the memory store and ages the rest into magnetic storage
    * (cdk/time_series_and_data_lakes_stack.py:46-49,56-60 sets both
    * retentions). The Spark-native analog over the export lake:
    * partitions at or above `hotCutoffKey` (keys sort lexicographically
    * by time, see the key rule) are pinned in the executors'
    * block-manager cache — MEMORY_AND_DISK, so memory pressure
    * degrades to local disk, never to re-reading the object store —
    * and colder partitions stream from the lake like any scan.
    *
    * Tier-transparent by construction: same schema and rows as
    * [[readExport]] (the s23_hot_tier gate hash-checks that), and time
    * predicates still prune — the hot leg is partition-FILTERED before
    * caching (only hot partitions ever occupy memory), the cold leg
    * keeps its partition filter pushed to the file index. Pair with
    * [[dropPartitionsOlderThan]] for the full lifecycle: memory-tier
    * reads → magnetic-tier reads → expiry. */
  def hotColdRead(spark: SparkSession, outDir: String,
      hotCutoffKey: String): DataFrame = {
    def safeUnpersist(l: HotLeg): Unit =
      try { l.df.unpersist(); () }
      catch { case scala.util.control.NonFatal(_) => () }
    // ONE cheap staleness probe per call (one manifest read), taken
    // OUTSIDE the lock — metadata latency must not serialize concurrent
    // tiered reads. The
    // expensive work (the leaf-file listing `spark.read.parquet` does
    // at plan time, plus re-caching) happens ONLY when the token
    // changed; a token-hit read reuses the cached leg's plan without
    // touching the lake's leaves.
    val token = lakeToken(spark, outDir)
    val key = (outDir, hotCutoffKey)
    def hit(): Option[DataFrame] = hotLegs.synchronized {
      hotLegClock += 1
      hotLegs.get(key) match {
        case Some(leg) if leg.token == token =>
          leg.used = hotLegClock
          Some(leg.df)
        case _ => None
      }
    }
    val hot = hit().getOrElse {
      // the leaf-file listing and plan build stay OUTSIDE the lock so
      // a slow rebuild cannot serialize other lakes' token-hit reads;
      // two concurrent misses both build and the later insert wins
      val fresh = readExport(spark, outDir)
        .filter(col("partition_key").cast("string") >= hotCutoffKey)
      hotLegs.synchronized {
        hotLegs.get(key).foreach(safeUnpersist)
        hotLegBuilds += 1
        hotLegs(key) = new HotLeg(token, fresh, hotLegClock)
        // bound the per-lake pin budget: evict the LRU leg beyond it
        val lakeKeys = hotLegs.keysIterator.filter(_._1 == outDir).toSeq
        if (lakeKeys.size > MaxHotLegsPerLake) {
          val lru = lakeKeys.minBy(k => hotLegs(k).used)
          safeUnpersist(hotLegs(lru))
          hotLegs.remove(lru)
        }
        fresh
      }
    }
    if (hot.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      graft.CacheRegistry.retain(hot.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    hot.unionByName(readExport(spark, outDir)
      .filter(col("partition_key").cast("string") < hotCutoffKey))
  }

  /** S6 faithful-layout variant: the reference lands each scheduled run
    * under a RAW time prefix (`2021-10-26T11:35/`,
    * mwaa/mwaa-cdk/dags/timestream-airflow-demo.py:41-43) rather than a
    * hive `partition_key=` directory. `partitionBy` stays this engine's
    * default export layout (it buys Catalyst partition pruning); this
    * pair exists for interop with lakes already laid out the
    * reference's way. */
  def exportWindowRawPrefix(events: DataFrame, p: GridParams, outDir: String,
      start: String, end: String): Unit = {
    val key = resolveWindows(events.sparkSession, Seq((start, end))).head.key
    windowed(events, p, Seq((start, end))).drop("partition_key")
      .write.mode("overwrite").parquet(s"$outDir/$key")
  }

  /** Crawl a raw-prefix lake back into one typed DataFrame: one listing
    * of the lake's window prefixes, then a single parquet read across
    * all of them, the window key recovered from the file path. The
    * crawler role of the reference's catalog (README.md:359-) for
    * layouts `partitionBy` discovery can't parse. A lake with no window
    * prefix is refused. */
  def readRawPrefixExport(spark: SparkSession, outDir: String): DataFrame = {
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefixes = (if (fs.exists(root)) fs.listStatus(root).toSeq else Nil)
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted
    if (prefixes.isEmpty) throw new IllegalArgumentException(
      s"raw-prefix export lake $outDir holds no window prefix")
    spark.read.parquet(prefixes: _*)
      .withColumn("partition_key",
        regexp_extract(input_file_name(), "/([^/]+)/[^/]+$", 1))
  }

  /** The reference's LIVE scheduled export — a 5-minute cron DAG,
    * catchup=False (mwaa/mwaa-cdk/dags/timestream-airflow-demo.py:88,
    * `:79`) — as a Structured Streaming query, so no external scheduler
    * is needed: the event stream itself drives the ticks. Per
    * micro-batch (`Trigger.ProcessingTime(cadence)` live, matching the
    * DAG's cadence; `Trigger.AvailableNow()` to drain-and-stop):
    *
    *  1. the batch's raw events land under `stagingDir/b<batchId>`
    *     (overwrite BY BATCH ID — a replayed batch rewrites the same
    *     prefix, so staging is idempotent under foreachBatch replay);
    *  2. every step-aligned window that is COMPLETE with respect to
    *     the staged data — a staged event at-or-after the window end
    *     proves it closed; the deterministic, replay-stable analog of
    *     the DAG's wall-clock `now()-5m..now()` — and whose partition
    *     is not yet in the lake is exported: all of a tick's windows in
    *     one call of [[backfillOnePass]], the writer the scheduled and
    *     backfill forms use, so the live lake is keyed by the same rule.
    *     Complete-but-missing is exactly catchup=False: missed ticks are
    *     picked up once, on the next tick that sees them.
    *
    * Restart with the same checkpoint resumes source offsets
    * exactly-once; a crash mid-export replays one batch, which
    * re-stages the same rows and re-overwrites the same partitions —
    * the lake converges to the batch-backfill answer with no duplicate
    * partitions (ExporterSpec: stream-vs-batch parity + restart).
    *
    * Scale shape — per-tick cost is HISTORY-INDEPENDENT: each tick
    * reads the batch it just staged plus one PENDING snapshot holding
    * only the rows of not-yet-exported windows (bounded by step +
    * slack worth of data, however old the stream), exports the newly
    * complete windows, rewrites the trimmed pending snapshot, and
    * RETIRES everything superseded. Exported windows' rows are dead by
    * the completeness contract (exported partitions are never
    * revisited), so trimming them loses nothing; staging holds at most
    * the current batch, the new pending snapshot, and its predecessor
    * (kept one tick as the replay fallback). A stream alive for months
    * lists three prefixes per tick, not tens of thousands
    * (ExporterSpec pins the flat staged-file count).
    *
    * Replay safety: both the batch prefix and the pending snapshot are
    * keyed by BATCH ID and written with overwrite, so a replayed tick
    * reads the same predecessor (`p<w>, w < id` — its own partial
    * output is invisible to it) and rewrites the same prefixes;
    * retirement only deletes strictly-older generations the replay no
    * longer reads.
    */
  def continuousExport(events: DataFrame, p: GridParams, stagingDir: String,
      outDir: String, checkpointDir: String, stepMicros: Long,
      trigger: Trigger = Trigger.AvailableNow(),
      slackMicros: Long = 0L): StreamingQuery = {
    require(events.isStreaming, "continuousExport expects a streaming DataFrame")
    require(stepMicros > 0 && stepMicros % 1000000L == 0,
      s"stepMicros must be a positive whole number of seconds, got $stepMicros")
    require(slackMicros >= 0, s"slackMicros must be >= 0, got $slackMicros")
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        batch.write.mode("overwrite").parquet(s"$stagingDir/b$id")
        exportTick(batch.sparkSession, p, stagingDir, outDir, stepMicros,
          slackMicros, id)
        ()
      }
      .start()
  }

  /** One tick of [[continuousExport]] after the batch landed under
    * `b<id>`: assemble the live staged set, export the newly complete
    * windows, rewrite the trimmed pending snapshot, retire superseded
    * generations. Split out so the tick is unit-testable without a
    * stream. Older batch prefixes with no pending snapshot can only be
    * a staging directory from before prefix retirement: refused by
    * name, never folded in. */
  private[graft] def exportTick(spark: SparkSession, p: GridParams,
      stagingDir: String, outDir: String, stepMicros: Long,
      slackMicros: Long, id: Long): Seq[String] = {
    val fs = new Path(stagingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = stagedGenerations(fs, stagingDir, "p").filter(_ < id)
      .maxOption
    val batchDf = spark.read.parquet(s"$stagingDir/b$id")
    val staged = prev match {
      case Some(w) => spark.read.parquet(s"$stagingDir/p$w")
        .unionByName(batchDf)
      case None =>
        val older = stagedGenerations(fs, stagingDir, "b").filter(_ < id)
        if (older.nonEmpty)
          throw new IllegalStateException(
            s"staging directory $stagingDir holds batch prefixes " +
              s"${older.sorted.map("b" + _).mkString(", ")} older than batch " +
              s"$id but no pending snapshot: a layout this exporter does " +
              "not write; start the stream on an empty staging directory")
        batchDf
    }
    val (keys, floor) = exportCompleteWindows(staged, p, outDir,
      stepMicros, slackMicros)
    staged.filter(unix_micros(col(p.time)) >= lit(floor))
      .write.mode("overwrite").parquet(s"$stagingDir/p$id")
    // retire superseded generations: pendings older than the replay
    // fallback, and every batch prefix this tick consumed.
    stagedGenerations(fs, stagingDir, "p")
      .filter(w => w < id && !prev.contains(w))
      .foreach(w => fs.delete(new Path(s"$stagingDir/p$w"), true))
    stagedGenerations(fs, stagingDir, "b").filter(_ < id)
      .foreach(w => fs.delete(new Path(s"$stagingDir/b$w"), true))
    keys
  }

  /** Batch-id generations staged under `dir` with the given prefix
    * (`b` = raw batches, `p` = pending snapshots). */
  private def stagedGenerations(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, prefix: String): Seq[Long] = {
    val root = new Path(dir)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) &&
        n.drop(prefix.length).forall(_.isDigit) &&
        n.length > prefix.length => n.drop(prefix.length).toLong }
  }

  /** One tick of [[continuousExport]]: export every step-aligned
    * window complete w.r.t. `staged` and absent from `outDir`. Window
    * k = [k·step, (k+1)·step) is complete iff (k+1)·step + slack ≤
    * max staged event time. Returns the exported partition keys
    * (testing hook) and the LIVE FLOOR in epoch micros — the start of
    * the first not-yet-exportable window: staged rows below it belong
    * to exported (or skipped-as-existing) windows, are never read
    * again by contract, and are what the caller trims from the next
    * pending snapshot. Long.MinValue when nothing is complete yet
    * (everything stays live). Bounds are rendered on the driver with
    * their session-zone offset, so [[resolveWindows]] parses them back to
    * the same instants; existing keys are matched with the key rule at
    * the step's width.
    *
    * COMPLETENESS CONTRACT: the max staged event time is a watermark
    * proxy — exported partitions are never revisited, so an event
    * arriving more than `slackMicros` out of time order behind the
    * stream head lands in an already-exported window and is dropped.
    * slack = 0 (the default) assumes a time-ordered stream (the
    * generator/ingest path here is); set `slackMicros` to the source's
    * max expected disorder otherwise — exports then trail the head by
    * that much, the streaming analog of a watermark delay.
    */
  private[graft] def exportCompleteWindows(staged: DataFrame, p: GridParams,
      outDir: String, stepMicros: Long,
      slackMicros: Long = 0L): (Seq[String], Long) = {
    val spark = staged.sparkSession
    val mm = staged.agg(
      min(unix_micros(col(p.time))).as("lo"),
      max(unix_micros(col(p.time))).as("hi")).head()
    if (mm.isNullAt(0)) return (Nil, Long.MinValue)
    val first = Math.floorDiv(mm.getLong(0), stepMicros)
    val lastComplete = Math.floorDiv(mm.getLong(1) - slackMicros, stepMicros) - 1
    if (lastComplete < first) return (Nil, Long.MinValue)
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing: Set[String] =
      if (fs.exists(new Path(outDir)))
        fs.listStatus(new Path(outDir)).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName)
          .filter(_.startsWith("partition_key="))
          .map(_.stripPrefix("partition_key=")).toSet
      else Set.empty
    val zone = sessionZone(spark)
    val key = keyFormatter(zone, stepMicros)
    val bound = formatter("yyyy-MM-dd HH:mm:ssXXX", zone)
    val todo = (first to lastComplete).map(_ * stepMicros)
      .filterNot(s => existing.contains(key.format(s)))
    if (todo.nonEmpty) backfillOnePass(staged, p, outDir,
      todo.map(s => (bound.format(s), bound.format(s + stepMicros))))
    (todo.map(key.format), (lastComplete + 1) * stepMicros)
  }

  /** §1.6 retention: drop export partitions whose key sorts strictly
    * below `cutoffKey` (keys are lexicographically ordered by time at
    * either resolution, so string comparison IS time comparison). Works
    * on BOTH lake layouts — hive `partition_key=<key>/` dirs and raw `<key>/`
    * prefixes (a raw key starts with a year digit, which also keeps
    * non-partition dirs like `_spark_metadata` untouched). The Spark
    * analog of Timestream's magnetic-retention expiry — driver-side
    * metadata operation, O(partitions), no data scan.
    */
  def dropPartitionsOlderThan(spark: SparkSession, outDir: String,
      cutoffKey: String): Seq[String] = {
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a lake that never exported anything has nothing to expire — not
    // an error (retention runs on a schedule, possibly before data)
    if (!fs.exists(new Path(outDir))) return Nil
    val dropped = fs.listStatus(new Path(outDir)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { dir =>
        val key = dir.getName.stripPrefix("partition_key=")
        key.headOption.exists(_.isDigit) && key < cutoffKey
      }
    dropped.foreach(fs.delete(_, true))
    // raw-prefix lakes carry no manifest; a no-op drop changes nothing
    if (dropped.nonEmpty && fs.exists(new Path(outDir, ExportManifestName)))
      bumpExportManifest(spark, outDir)
    dropped.map(_.getName.stripPrefix("partition_key="))
  }
}
