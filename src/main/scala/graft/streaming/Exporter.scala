package graft.streaming

import graft.operators.TimeSeries
import graft.operators.TimeSeries.GridParams
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.hadoop.fs.Path

/** C6/S6 — the scheduled incremental export of the reference
  * (mwaa/mwaa-cdk/dags/timestream-airflow-demo.py:37-93): every run
  * computes the flagship query over one idempotent [start, end) window
  * and lands it in the lake under a time-derived partition key
  * (P13: yyyy-MM-dd'T'HH-mm, `:41-43,69`). Backfill = iterating
  * windows (timestream-backfill.py:33-37).
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

  val KeyFormat = "yyyy-MM-dd'T'HH-mm"

  /** One incremental run: flagship over [start, end), written under its
    * partition key. Idempotent — same window in, same partition out. */
  def exportWindow(events: DataFrame, p: GridParams, outDir: String,
      start: String, end: String): Unit = {
    val windowed = events.filter(
      col(p.time) >= lit(start).cast("timestamp") &&
        col(p.time) < lit(end).cast("timestamp"))
    TimeSeries.flagship(windowed, p)
      .withColumn("partition_key",
        date_format(lit(start).cast("timestamp"), KeyFormat))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("partition_key")
      .parquet(outDir)
    bumpExportManifest(events.sparkSession, outDir)
  }

  /** Backfill: run every [start, end) pair — the Airflow catchup loop.
    * Faithful to the scheduled shape (one job per window); for large
    * backfills prefer [[backfillOnePass]]. */
  def backfill(events: DataFrame, p: GridParams, outDir: String,
      windows: Seq[(String, String)]): Unit =
    windows.foreach { case (s, e) => exportWindow(events, p, outDir, s, e) }

  /** Backfill as ONE job: tag each event with its window, fold the
    * window id into the interpolation key, and let a single flagship
    * pass produce every window's independent grid (per-(sensor, window)
    * min/max — exactly what N separate filtered runs compute), written
    * as one dynamic-partition overwrite. N scans + N shuffles + N
    * writes collapse to 1/1/1 — the difference between re-running a
    * year of 5-minute windows in one job and 100k jobs.
    *
    * Window assignment is a broadcast join against a tiny (id, start,
    * end, partition_key) windows TABLE — never a per-window expression
    * chain (a 100k-window backfill would otherwise hand Catalyst a
    * 100k-node when() tree and die in optimize/codegen). Two shapes:
    *  - uniform windows (all the same width, starts aligned to it):
    *    slot = floor((t − origin) / width) computed arithmetically,
    *    then a broadcast HASH equi-join on slot — O(1) per event
    *    regardless of N, and gaps fall out via the inner join.
    *  - arbitrary windows: a BINNED broadcast equi-join (the
    *    Temporal.rangeJoin shape specialised to long-micros bounds):
    *    bin width = the smallest window width, each window explodes to
    *    its covered bins (the exploded table stays driver-tiny — it is
    *    windows × expansion, not events), each event computes its one
    *    bin, and the join hash-partitions on the bin with the exact
    *    containment predicate as a post-filter. O(1) probes per event
    *    at ANY window count — no BroadcastNestedLoopJoin anywhere.
    */
  /** Window-id assignment for [[backfillOnePass]]: events tagged with
    * `_w` via the broadcast windows-table join (uniform → arithmetic
    * slot + hash equi-join; arbitrary → range join), plus the windows
    * table carrying `partition_key`. Exposed for plan audits. */
  private[graft] def tagWindows(events: DataFrame, p: GridParams,
      windows: Seq[(String, String)]): (DataFrame, DataFrame) = {
    require(windows.nonEmpty, "backfillOnePass requires at least one window")
    // exactly-one-window assignment: overlapping windows would silently
    // diverge from the serial loop (which recomputes shared events in
    // every covering window)
    require(
      windows.sortBy(_._1).sliding(2).forall {
        case Seq((_, e1), (s2, _)) => e1 <= s2
        case _ => true
      },
      s"backfillOnePass requires non-overlapping [start, end) windows; use backfill() for overlaps")
    val spark = events.sparkSession
    import spark.implicits._
    val winDf = windows.zipWithIndex
      .map { case ((s, e), i) => (i, s, e) }.toDF("_w", "_ws", "_we")
      .select(col("_w"),
        unix_micros(col("_ws").cast("timestamp")).as("_su"),
        unix_micros(col("_we").cast("timestamp")).as("_eu"),
        date_format(col("_ws").cast("timestamp"), KeyFormat).as("partition_key"))
    // window bounds in micros, resolved by the SAME session-timezone
    // cast the range join uses (driver-side string parsing could skew)
    val bounds = winDf.select(col("_w"), col("_su"), col("_eu"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    val widths = bounds.map { case (_, s, e) => e - s }.distinct
    val origin = bounds.head._2
    val uniform = widths.length == 1 && widths.head > 0 &&
      bounds.forall { case (_, s, _) => (s - origin) % widths.head == 0 }
    val tUs = unix_micros(col(p.time))
    val tagged =
      if (uniform) {
        val w = widths.head
        val slots = winDf.select(((col("_su") - origin) / w).cast("long").as("_slot"), col("_w"))
        events.withColumn("_slot", floor((tUs - lit(origin)) / lit(w)).cast("long"))
          .join(broadcast(slots), "_slot").drop("_slot")
      } else if (!widths.exists(_ > 0)) {
        // every window is zero-width/empty ([s, e <= s)): no event can
        // match, and there is no positive width to bin by — return the
        // empty tagged frame directly instead of tripping on empty.min
        events.filter(lit(false)).withColumn("_w", lit(0))
      } else {
        // `div`, not `/`: exact floor division (micros are non-negative)
        // so no boundary event can round across a bin edge
        val binW = widths.filter(_ > 0).min
        val ivBins = winDf
          .filter(col("_eu") > col("_su"))
          .select(col("_w"), col("_su"), col("_eu"),
            explode(expr(s"sequence(_su div ${binW}L, (_eu - 1) div ${binW}L)")).as("_wbin"))
        events
          .withColumn("_wbin", expr(s"unix_micros(${p.time}) div ${binW}L"))
          .join(broadcast(ivBins), "_wbin")
          .filter(tUs >= col("_su") && tUs < col("_eu"))
          .drop("_wbin", "_su", "_eu")
      }
    (tagged, winDf)
  }

  def backfillOnePass(events: DataFrame, p: GridParams, outDir: String,
      windows: Seq[(String, String)]): Unit = {
    val (tagged0, winDf) = tagWindows(events, p, windows)
    val tagged = tagged0.withColumn("_ek", struct(col(p.key).as("k"), col("_w").as("w")))
    TimeSeries.flagship(tagged, p.copy(key = "_ek"))
      .select(col("_ek.k").as(p.key), col("_ek.w").as("_w"),
        col("time"), col("status"), col("temperature"))
      .join(broadcast(winDf.select(col("_w"), col("partition_key"))), "_w")
      .drop("_w")
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
    * token (re-exported window, continuous appends, new partition)
    * REPLACES the leg — old blocks unpersisted, fresh plan cached —
    * instead of serving stale files. Distinct cutoffs coexist (a 24h
    * dashboard and a 7d verifier on the same lake each keep their leg
    * cached), bounded at [[MaxHotLegsPerLake]] per lake with
    * least-recently-used eviction, so a MOVING cutoff (a new key every
    * day) cannot accumulate overlapping pinned copies without bound.
    * The registry's releases (bench/verify clear caches between gates)
    * are honored by re-persisting a leg whose storage level was
    * dropped. */
  private final class HotLeg(val token: Set[(String, Long)], val df: DataFrame,
    var used: Long)
  private val hotLegs = scala.collection.mutable.Map.empty[(String, String), HotLeg]
  private var hotLegClock = 0L
  private val MaxHotLegsPerLake = 4
  /** Observability hook for the spec: how many times a hot leg was
    * (re)built — a token-hit read must not re-list or re-plan. */
  private[graft] var hotLegBuilds = 0L

  /** The export lake's own manifest: a tiny file at the lake root
    * holding "<counter>-<nonce>", rewritten (atomic rename) by every
    * writer this module owns ([[exportWindow]], [[backfillOnePass]],
    * [[dropPartitionsOlderThan]]). It exists because directory mtimes
    * are a LOSSY staleness signal: object stores don't have them, and
    * two rewrites of one partition within a filesystem clock tick are
    * indistinguishable — the manifest's counter+nonce changes on EVERY
    * write regardless of clock or store. The `_` prefix keeps it out
    * of every parquet directory listing (Spark's hidden-file filter). */
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
    // token change; a briefly-missing manifest (delete→rename window)
    // reads as a change too: over-invalidation, never staleness
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

  /** The staleness token: ONE non-recursive listing of the lake root —
    * (child name, mtime) per partition directory, O(partitions)
    * metadata instead of the O(files) leaf listing `inputFiles` costs.
    * Any partition write (dynamic overwrite, append, new partition,
    * retention drop) changes its directory's name set or mtime; when
    * the lake carries an [[ExportManifestName]] (every lake written by
    * this module does), the manifest's CONTENT rides in the token too,
    * so same-clock-tick double rewrites and mtime-less object stores
    * are covered — the manifest entry's identity is its content, not
    * its mtime. External writers that bypass the manifest still flip
    * the mtime half. Cold-only changes over-invalidate (the token
    * spans the whole lake) — correct, just re-caches. */
  private def lakeToken(spark: SparkSession, outDir: String): Set[(String, Long)] = {
    val fs = new Path(outDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(outDir)
    if (!fs.exists(root)) Set.empty
    else fs.listStatus(root).toSeq.map { st =>
      val name = st.getPath.getName
      if (name == ExportManifestName)
        s"$name:${readExportManifest(fs, st.getPath).getOrElse("")}" -> 0L
      else name -> st.getModificationTime
    }.toSet
  }

  /** §1.6 hot/cold STORAGE TIERS: Timestream serves a recent window
    * from the memory store and ages the rest into magnetic storage
    * (cdk/time_series_and_data_lakes_stack.py:46-49,56-60 sets both
    * retentions). The Spark-native analog over the export lake:
    * partitions at or above `hotCutoffKey` (KeyFormat sorts
    * lexicographically by time) are pinned in the executors'
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
    // ONE cheap staleness probe per call, taken OUTSIDE the lock —
    // metadata latency must not serialize concurrent tiered reads. The
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
    val windowed = events.filter(
      col(p.time) >= lit(start).cast("timestamp") &&
        col(p.time) < lit(end).cast("timestamp"))
    // resolve the prefix with the same session-timezone cast+format the
    // hive layout uses, so both layouts name a window identically
    val key = events.sparkSession.range(1)
      .select(date_format(lit(start).cast("timestamp"), KeyFormat)).head.getString(0)
    TimeSeries.flagship(windowed, p)
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
    *     is not yet in the lake is exported through the same
    *     idempotent [[exportWindow]] the scheduled and backfill forms
    *     use. Complete-but-missing is exactly catchup=False: missed
    *     ticks are picked up once, on the next tick that sees them.
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
    * (everything stays live). Bounds and keys are rendered THROUGH the
    * session-timezone cast (driver-side string formatting could skew
    * an hour against [[exportWindow]]'s own casts).
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
    val todo = spark.range(first, lastComplete + 1)
      .select(
        date_format(timestamp_micros(col("id") * stepMicros),
          "yyyy-MM-dd HH:mm:ss").as("s"),
        date_format(timestamp_micros((col("id") + 1) * stepMicros),
          "yyyy-MM-dd HH:mm:ss").as("e"),
        date_format(timestamp_micros(col("id") * stepMicros), KeyFormat).as("k"))
      .collect()
      .filterNot(r => existing.contains(r.getString(2)))
    todo.foreach(r => exportWindow(staged, p, outDir, r.getString(0), r.getString(1)))
    (todo.map(_.getString(2)).toSeq, (lastComplete + 1) * stepMicros)
  }

  /** §1.6 retention: drop export partitions whose key sorts strictly
    * below `cutoffKey` (the KeyFormat is lexicographically ordered by
    * time, so string comparison IS time comparison). Works on BOTH lake
    * layouts — hive `partition_key=<key>/` dirs and raw `<key>/`
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
    // manifest bump for lakes the manifest tracks (the hive layout);
    // raw-prefix lakes carry none and readRawPrefixExport lists their
    // prefixes, skipping `_`/`.` names. A no-op drop changes nothing,
    // so nothing to signal
    if (dropped.nonEmpty &&
        (fs.exists(new Path(outDir, ExportManifestName)) ||
          fs.listStatus(new Path(outDir)).exists(
            _.getPath.getName.startsWith("partition_key="))))
      bumpExportManifest(spark, outDir)
    dropped.map(_.getName.stripPrefix("partition_key="))
  }
}
