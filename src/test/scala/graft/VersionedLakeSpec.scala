package graft

import graft.sources.VersionedLake
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** The versioned-lake guarantees the s14 gate can't see from
  * aggregates alone: old versions stay readable byte-for-byte,
  * untouched partitions are REUSED (same file paths in both
  * manifests, no data copy), emptied partitions vanish from the new
  * version only, and manifest-level pruning opens only the asked-for
  * partition's files.
  */
class VersionedLakeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p.toString
  }

  /** The mandatory header block of a hand-written manifest. */
  private val manifestHeader =
    "#format=1\n#batchwm=-1\n#retractwm=-1\n" +
      "#schema={\"type\":\"struct\",\"fields\":[]}\n#committs=0\n"

  private def buildTwoVersions(root: String): Unit = {
    val df = Seq(
      (1L, "a", 10.0, "p1"), (2L, "b", 20.0, "p1"),
      (3L, "c", 30.0, "p2"), (4L, "d", 40.0, "p3"))
      .toDF("id", "name", "score", "part")
    VersionedLake.create(df, s"$root/lake", "part")
    // update id=1, insert id=9 (p1); delete the whole of p2
    val changes = Seq(
      (1L, "a2", 11.0, "p1", false),
      (9L, "z", 90.0, "p1", false),
      (3L, "c", 30.0, "p2", true))
      .toDF("id", "name", "score", "part", "_deleted")
    VersionedLake.mergeUpsert(spark, s"$root/lake", changes, Seq("id"), "part")
  }

  test("manifest cache: an equal-length in-place edit with restored mtime still re-parses (content fingerprint)") {
    val root = tmp("vlake_fp")
    VersionedLake.create(
      Seq((1L, "p1"), (2L, "p2")).toDF("id", "part"), s"$root/lake", "part")
    assert(VersionedLake.manifestEntries(s"$root/lake", 1)
      .exists(_.partition == "p1")) // prime the cache
    val f = Paths.get(s"$root/lake/_versions/v1.manifest")
    val mtime = Files.getLastModifiedTime(f)
    val text = Files.readString(f)
    assert(text.contains("p1\t"), "expected a p1 entry line")
    // same byte length, same restored mtime — the (mtime, size) pair the
    // pre-fix cache validated with cannot tell this edit happened
    Files.writeString(f, text.replaceFirst("p1\t", "p9\t"))
    Files.setLastModifiedTime(f, mtime)
    val after = VersionedLake.manifestEntries(s"$root/lake", 1)
    assert(after.exists(_.partition == "p9") && !after.exists(_.partition == "p1"),
      s"stale cache served: ${after.map(_.partition)}")
  }

  test("manifest cache: an equal-length edit confined to the MIDDLE bytes still re-parses (middle probe)") {
    val root = tmp("vlake_fpm")
    val vdir = new java.io.File(s"$root/lake/_versions"); vdir.mkdirs()
    // hand-written manifest long enough that its middle sits outside
    // the head/tail 256-byte probes — the r19-documented blind spot
    val lines = (0 until 200).map(i => f"qq$i%03d\t$root/lake/data/f$i%03d.bin\t1\t\t\t\t")
    val f = new java.io.File(vdir, "v1.manifest").toPath
    Files.writeString(f, manifestHeader + lines.mkString("\n"))
    assert(VersionedLake.manifestEntries(s"$root/lake", 1).size == 200) // prime
    val text = Files.readString(f)
    val mid = text.length / 2
    val idx = text.indexOf("qq", mid - 100) // a partition marker inside the middle probe window
    assert(idx > 256 && idx < text.length - 256 && idx >= mid - 128 && idx + 2 <= mid + 128,
      s"test geometry broken: idx=$idx mid=$mid len=${text.length}")
    val victim = text.substring(idx, idx + 5)
    val mtime = Files.getLastModifiedTime(f)
    // same byte length, same restored mtime, head and tail bytes untouched
    Files.writeString(f, text.substring(0, idx) + "zz" + text.substring(idx + 2))
    Files.setLastModifiedTime(f, mtime)
    val after = VersionedLake.manifestEntries(s"$root/lake", 1)
    assert(after.exists(_.partition == "zz" + victim.drop(2)) &&
      !after.exists(_.partition == victim),
      "stale cache served a middle-bytes equal-length edit")
  }

  test("watermark headers are written unconditionally, -1 when nothing ever committed") {
    val root = tmp("vlake_wm0")
    VersionedLake.create(Seq((1L, "p1")).toDF("id", "part"), s"$root/lake", "part")
    val hs = Files.readString(Paths.get(s"$root/lake/_versions/v1.manifest"))
    assert(hs.contains("#batchwm=-1\n") && hs.contains("#retractwm=-1\n"),
      s"headers missing: ${hs.linesIterator.filter(_.startsWith("#")).mkString("|")}")
    assert(VersionedLake.committedBatchId(s"$root/lake") == -1L)
    assert(VersionedLake.committedRetractId(s"$root/lake") == -1L)
  }

  test("manifest format: every version of a lake built by every commit kind re-renders to its own bytes") {
    val root = tmp("vlake_fmt")
    val lake = s"$root/lake"
    val df = Seq(
      (1L, "a b;c:d", 1.5, "p1"), (2L, null, -2.0, "p1"),
      (3L, "\u00e9t\u00e9", 3.25, "p2"), (4L, "z", Double.NaN, "p3"))
      .toDF("id", "name", "score", "part")
      .withColumn("ts", timestamp_micros(col("id") * 1000000L))
    VersionedLake.create(df, lake, "part", batchId = Some(0L),
      blooms = Seq(VersionedLake.BloomSpec("id", m = 128)),
      props = Map("geometry" -> "g=1&2"))
    VersionedLake.append(df.withColumn("id", col("id") + 10L)
      .withColumn("extra", lit(7)), lake, "part", Some(1L)) // v2, evolves
    VersionedLake.mergeUpsert(spark, lake,
      Seq((1L, "x", 9.0, "p1", false)).toDF("id", "name", "score", "part", "_deleted")
        .withColumn("ts", timestamp_micros(lit(5L))).withColumn("extra", lit(1)),
      Seq("id"), "part", batchId = Some(2L)) // v3
    VersionedLake.compactPartitions(spark, lake, "part") // v4
    VersionedLake.dropPartitions(lake, Seq("p3"), batchId = Some(3L)) // v5
    VersionedLake.mergeUpsert(spark, lake,
      Seq((2L, "", 0.0, "p1", true)).toDF("id", "name", "score", "part", "_deleted")
        .withColumn("ts", timestamp_micros(lit(0L))).withColumn("extra", lit(1)),
      Seq("id"), "part", retractId = Some(0L)) // v6
    assert(VersionedLake.currentVersion(lake) == 6)
    (1 to 6).foreach { v =>
      val f = Paths.get(s"$lake/_versions/v$v.manifest")
      val text = Files.readString(f)
      assert(text.startsWith("#format=1\n"), s"v$v: ${text.take(40)}")
      assert(VersionedLake.renderManifest(VersionedLake.loadManifest(lake, v)) == text,
        s"v$v does not re-render to its own bytes")
    }
    // the NaN-bearing file records no score stats, every other file does
    val v1 = VersionedLake.manifestEntries(lake, 1)
    assert(v1.filter(_.partition == "p3").forall(!_.colStats.contains("score")))
    assert(v1.filter(_.partition != "p3").forall(_.colStats.contains("score")))
  }

  test("manifest format: a missing or unknown #format, a wrong field count or a missing mandatory header is refused, naming the file") {
    val root = tmp("vlake_fmtbad")
    VersionedLake.create(Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "name", "part"),
      s"$root/good", "part", blooms = Seq(VersionedLake.BloomSpec("id")))
    val good = Files.readString(Paths.get(s"$root/good/_versions/v1.manifest"))
    val lines = good.split("\n").toSeq
    val doctored = Seq(
      "no format" -> lines.tail.mkString("\n"),
      "unknown format" -> ("#format=2" +: lines.tail).mkString("\n"),
      "field count" -> lines.map(l =>
        if (l.startsWith("#")) l else l.split("\t", -1).dropRight(1).mkString("\t"))
        .mkString("\n"),
      "no schema" -> lines.filterNot(_.startsWith("#schema=")).mkString("\n"),
      "no batchwm" -> lines.filterNot(_.startsWith("#batchwm=")).mkString("\n"),
      "no committs" -> lines.filterNot(_.startsWith("#committs=")).mkString("\n"),
      "legacy header" -> (lines.head +: "#statscol=id" +: lines.tail).mkString("\n"))
    doctored.foreach { case (what, text) =>
      assert(text != good, what)
      val lake = s"$root/${what.replace(' ', '_')}"
      val f = Paths.get(s"$lake/_versions/v1.manifest")
      Files.createDirectories(f.getParent)
      Files.writeString(f, text)
      def refused(read: => Any): Unit = {
        val e = intercept[IllegalStateException](read)
        assert(e.getMessage.contains(f.toString), s"$what: ${e.getMessage}")
      }
      refused(VersionedLake.manifestEntries(lake, 1))
      refused(VersionedLake.manifestEntriesForPlanning(lake, 1))
      refused(VersionedLake.committedBatchId(lake))
    }
  }

  test("huge manifests: 50k-entry first parse stays bounded; the planner view refuses an uncached oversized parse") {
    // a synthetic 50k-entry manifest in the on-disk format (one
    // 7-field line per file, zone map on x) — the 100k-file-lake
    // shape the optimizer rules must not stall on
    def fakeLake(prefix: String, entries: Int): String = {
      val root = tmp(prefix)
      val vdir = new java.io.File(s"$root/lake/_versions"); vdir.mkdirs()
      val sb = new StringBuilder(manifestHeader)
      (0 until entries).foreach(i => sb.append(
        s"p${i % 64}\t$root/lake/data/p${i % 64}/f$i.parquet\t10\tx:0.0:9.0\t\t\tx:0\n"))
      Files.writeString(new java.io.File(vdir, "v1.manifest").toPath, sb.toString)
      s"$root/lake"
    }
    val big = fakeLake("vlake_big", 50000)
    val t0 = System.nanoTime()
    val parsed = VersionedLake.manifestEntries(big, 1)
    val parseSec = (System.nanoTime() - t0) / 1e9
    assert(parsed.size == 50000)
    assert(parseSec < 5.0, f"50k-entry first parse took $parseSec%.1f s")
    // already-parsed manifests serve the planner regardless of size
    assert(VersionedLake.manifestEntriesForPlanning(big, 1)
      .exists(_.size == 50000))
    // an UNCACHED manifest beyond the plan-bytes cap is refused for
    // planning (rule degrades to no pruning) but still parses for data
    // reads — after which the cache serves the planner too
    val big2 = fakeLake("vlake_big2", 5000)
    assert(VersionedLake.manifestEntriesForPlanning(big2, 1, maxBytes = 1024).isEmpty)
    assert(VersionedLake.manifestEntries(big2, 1).size == 5000)
    assert(VersionedLake.manifestEntriesForPlanning(big2, 1, maxBytes = 1024)
      .exists(_.size == 5000))
  }

  test("commit-time exactly-once: two staged appends with one batch id land once (check-then-act race closed)") {
    val root = tmp("vlake_ctonce")
    val lake = s"$root/lake"
    VersionedLake.create(Seq((1L, "p1")).toDF("id", "part"), lake, "part")
    // two writers PLAN the same increment concurrently — both pass the
    // caller-level `batchId > committedBatchId` pre-check because
    // neither has committed yet
    val inc = Seq((2L, "p1"), (3L, "p2")).toDF("id", "part")
    val planA = VersionedLake.planAppend(inc, lake, "part", batchId = Some(7L))
    val planB = VersionedLake.planAppend(inc, lake, "part", batchId = Some(7L))
    val vA = VersionedLake.commitPending(lake, planA)
    assert(vA == 2)
    // B's commit must NO-OP at the claim point (watermark now 7): same
    // version back, no duplicate rows, B's staged files reclaimed
    val vB = VersionedLake.commitPending(lake, planB)
    assert(vB == 2, s"replayed commit claimed v$vB")
    assert(VersionedLake.read(spark, lake).count() == 3)
    assert(planB.newEntries.forall(e => !Files.exists(Paths.get(e.path))),
      "the losing writer's staged files must be deleted")
    // a genuinely newer increment still lands
    VersionedLake.append(Seq((4L, "p2")).toDF("id", "part"), lake, "part",
      batchId = Some(8L))
    assert(VersionedLake.read(spark, lake).count() == 4)
  }

  test("time travel: v1 is unchanged after the merge; v2 shows the merge") {
    val root = tmp("vlake")
    buildTwoVersions(root)
    assert(VersionedLake.currentVersion(s"$root/lake") == 2)
    def rows(v: Int) = VersionedLake.read(spark, s"$root/lake", Some(v))
      .select("id", "name", "score", "part").as[(Long, String, Double, String)]
      .collect().toSet
    assert(rows(1) == Set(
      (1L, "a", 10.0, "p1"), (2L, "b", 20.0, "p1"),
      (3L, "c", 30.0, "p2"), (4L, "d", 40.0, "p3")))
    assert(rows(2) == Set(
      (1L, "a2", 11.0, "p1"), (2L, "b", 20.0, "p1"),
      (9L, "z", 90.0, "p1"), (4L, "d", 40.0, "p3")))
    // default read = current
    assert(VersionedLake.read(spark, s"$root/lake").count() == 4)
  }

  test("untouched partitions are file-identical across versions, touched ones are new") {
    val root = tmp("vlake_reuse")
    buildTwoVersions(root)
    val m1 = VersionedLake.manifest(s"$root/lake", 1).groupBy(_._1)
    val m2 = VersionedLake.manifest(s"$root/lake", 2).groupBy(_._1)
    // p3 untouched: exact same file paths carried forward — no copy
    assert(m1("p3") == m2("p3"))
    // p1 touched: completely new files
    assert(m1("p1").map(_._2).toSet.intersect(m2("p1").map(_._2).toSet).isEmpty)
    // p2 emptied: present in v1, absent from v2, files still on disk for v1
    assert(m1.contains("p2") && !m2.contains("p2"))
    assert(m1("p2").forall(e => new java.io.File(e._2).exists()))
  }

  test("manifest-level pruning: a partition-scoped read opens only that partition's files") {
    val root = tmp("vlake_prune")
    buildTwoVersions(root)
    val opened = VersionedLake.read(spark, s"$root/lake", Some(2), Some(Seq("p3")))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(opened.nonEmpty && opened.forall(_.contains("part=p3")), opened.mkString(","))
    // and the partition column survives the explicit-file-list read
    val out = VersionedLake.read(spark, s"$root/lake", Some(2), Some(Seq("p1")))
      .select("part").distinct().as[String].collect().toSeq
    assert(out == Seq("p1"))
  }

  test("vacuum deletes only files no surviving version references") {
    val root = tmp("vlake_vacuum")
    buildTwoVersions(root)
    val m1 = VersionedLake.manifest(s"$root/lake", 1)
    val m2 = VersionedLake.manifest(s"$root/lake", 2).map(_._2).toSet
    val v1Only = m1.map(_._2).filterNot(m2.contains) // p1's old files + p2's
    assert(v1Only.nonEmpty)
    VersionedLake.vacuum(s"$root/lake", keepFrom = 2)
    // v1-only files are gone; shared files (p3) survive
    assert(v1Only.forall(p => !new java.io.File(p).exists()))
    assert(m2.forall(p => new java.io.File(p).exists()))
    // v1 is no longer resolvable; v2 still reads in full
    intercept[IllegalArgumentException] {
      VersionedLake.manifest(s"$root/lake", 1)
    }
    assert(VersionedLake.read(spark, s"$root/lake", Some(2)).count() == 4)
  }

  test("streaming commits: one version per micro-batch, replay-idempotent, time-travel-readable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmp("vlake_stream")
    val ms = MemoryStream[(Long, String, String)]
    def run(): Unit = {
      val q = VersionedLake.streamingCommit(
        ms.toDS().toDF("id", "name", "part"),
        s"$root/lake", "part", s"$root/ckpt")
      q.awaitTermination()
    }
    ms.addData(Seq((1L, "a", "p1"), (2L, "b", "p2")))
    run()
    ms.addData(Seq((3L, "c", "p1")))
    run()
    assert(VersionedLake.currentVersion(s"$root/lake") == 2)
    // each batch is its own time-travel point
    assert(VersionedLake.read(spark, s"$root/lake", Some(1)).count() == 2)
    assert(VersionedLake.read(spark, s"$root/lake", Some(2)).count() == 3)
    // v1's files carried forward verbatim into v2 (append never rewrites)
    val m1 = VersionedLake.manifest(s"$root/lake", 1)
    val m2 = VersionedLake.manifest(s"$root/lake", 2)
    assert(m1.forall(m2.contains))
    // the committed watermark is batch 1; a replayed foreachBatch
    // invocation (id <= watermark) takes the skip branch of the guard
    import spark.implicits._
    assert(VersionedLake.committedBatchId(s"$root/lake") == 1L)
    val before = VersionedLake.currentVersion(s"$root/lake")
    val replayedId = 1L
    if (replayedId > VersionedLake.committedBatchId(s"$root/lake"))
      VersionedLake.append(Seq((9L, "dup", "p1")).toDF("id", "name", "part"),
        s"$root/lake", "part", Some(replayedId))
    assert(VersionedLake.currentVersion(s"$root/lake") == before)
    // restarting against the same checkpoint with no new data commits nothing
    run()
    assert(VersionedLake.currentVersion(s"$root/lake") == before)
    assert(VersionedLake.read(spark, s"$root/lake").count() == 3)
    // an interleaved NON-streaming commit (no batch id) must not reset
    // the replay watermark — it is the max over ALL versions
    VersionedLake.append(Seq((7L, "g", "p3")).toDF("id", "name", "part"),
      s"$root/lake", "part")
    assert(VersionedLake.committedBatchId(s"$root/lake") == 1L)
  }

  test("zone maps: a range read opens only files whose recorded min/max overlap") {
    import spark.implicits._
    val root = tmp("vlake_zone")
    // one partition value, four range-disjoint files: skipping here is
    // purely the manifest zone maps, not partition pruning
    val df = (1 to 400).map(i => (i.toLong, i.toDouble, "all")).toDF("id", "score", "part")
      .repartitionByRange(4, col("score"))
    VersionedLake.create(df, s"$root/lake", "part")
    val entries = VersionedLake.manifestEntries(s"$root/lake", 1)
    assert(entries.length == 4 && entries.forall(_.colStats.contains("score")))
    // a box inside one file's range opens exactly that file
    val narrow = VersionedLake.readRange(spark, s"$root/lake", "score", 120.0, 140.0, None)
    val opened = narrow.select(input_file_name()).distinct().count()
    assert(opened == 1, s"expected 1 file, opened $opened")
    // zone maps bound files, not rows: exact filter on top is correct
    val got = narrow.filter(col("score") >= 120.0 && col("score") <= 140.0)
      .select("id").as[Long].collect().toSet
    assert(got == (120L to 140L).toSet)
    // stats survive an unrelated-partition merge (carry-forward) and
    // a full read is unaffected
    assert(VersionedLake.read(spark, s"$root/lake").count() == 400)
  }

  test("per-column zone maps: any recorded column prunes, each with its own skip set; unrecorded refuses") {
    import spark.implicits._
    val root = tmp("vlake_multizone")
    // `a` ascends, `b` DESCENDS, `ts` tracks `a` in micros — the same
    // byte range maps to different files per column, so the per-column
    // skip sets are distinguishable
    val df = (1 to 400).map { i =>
      (i.toLong, (401 - i).toLong, new java.sql.Timestamp(i * 1000L), "all")
    }.toDF("a", "b", "ts", "part").repartitionByRange(4, col("a"))
    VersionedLake.create(df, s"$root/lake", "part")
    val entries = VersionedLake.manifestEntries(s"$root/lake", 1)
    assert(entries.length == 4)
    assert(entries.forall(e => Seq("a", "b", "ts").forall(e.colStats.contains)),
      entries.map(_.colStats.keys).toString)
    def opened(dfr: org.apache.spark.sql.DataFrame): Long =
      dfr.select(input_file_name()).distinct().count()
    // same numeric box [120, 140]: on `a` it lives in the 2nd file, on
    // `b` in the 3rd — each column prunes with its own stats
    val onA = VersionedLake.readRange(spark, s"$root/lake", "a", 120.0, 140.0, None)
    assert(opened(onA) == 1)
    assert(onA.filter(col("a").between(120, 140)).select("a").as[Long].collect().toSet
      == (120L to 140L).toSet)
    val onB = VersionedLake.readRange(spark, s"$root/lake", "b", 120.0, 140.0, None)
    assert(opened(onB) == 1)
    assert(onB.filter(col("b").between(120, 140)).select("b").as[Long].collect().toSet
      == (120L to 140L).toSet)
    assert(onA.inputFiles.toSet != onB.inputFiles.toSet,
      "columns a and b should prune to different files")
    // timestamps probe in epoch MICROS (ts = a milliseconds)
    val onTs = VersionedLake.readRange(spark, s"$root/lake", "ts",
      120 * 1000000.0, 140 * 1000000.0, None)
    assert(opened(onTs) == 1)
    assert(onTs.inputFiles.toSet == onA.inputFiles.toSet)
    // a column with no recorded stats refuses loudly, naming what can prune
    val err = intercept[IllegalArgumentException] {
      VersionedLake.readRange(spark, s"$root/lake", "part2", 0.0, 1.0, None)
    }
    assert(err.getMessage.contains("part2") && err.getMessage.contains("a, b"),
      err.getMessage)
    // stats survive merge carry-forward and compaction re-recording
    VersionedLake.mergeUpsert(spark, s"$root/lake",
      Seq((1000L, 1000L, new java.sql.Timestamp(1000000L), "all", false))
        .toDF("a", "b", "ts", "part", "_deleted"), Seq("a"), "part")
    val v2 = VersionedLake.manifestEntries(s"$root/lake", 2)
    assert(v2.forall(_.colStats.contains("b")), "merge dropped per-column stats")
    VersionedLake.compactPartitions(spark, s"$root/lake", "part")
    val v3 = VersionedLake.manifestEntries(s"$root/lake", 3)
    assert(v3.forall(_.colStats.contains("b")), "compaction dropped per-column stats")
    assert(VersionedLake.readRange(spark, s"$root/lake", "b", 120.0, 140.0, None)
      .filter(col("b").between(120, 140)).count() == 21)
  }

  test("per-file blooms: point reads skip files; absent keys prune to zero; FPs invisible") {
    import spark.implicits._
    val root = tmp("vlake_bloom")
    // one partition value, four key-disjoint files: skipping is purely
    // the manifest blooms, not partition pruning
    val df = (1 to 400).map(i => (i.toLong, s"n$i", "all")).toDF("id", "name", "part")
      .repartitionByRange(4, col("id"))
    VersionedLake.create(df, s"$root/lake", "part",
      blooms = Seq(VersionedLake.BloomSpec("id", m = 4096)))
    val entries = VersionedLake.manifestEntries(s"$root/lake", 1)
    assert(entries.length == 4 && entries.forall(_.colBlooms.contains("id")))
    // a present key: exactly the files whose filter admits it (>= the
    // one real holder; FPs possible but DETERMINISTIC from the
    // manifest, so assert the exact predicted set)
    val predicted = entries.count(_.colBlooms("id").mightContain("217"))
    val read217 = VersionedLake.readPoint(spark, s"$root/lake", "id", "217", None)
    assert(read217.inputFiles.length == predicted && predicted >= 1)
    assert(read217.filter(col("id") === 217L).select("name").as[String]
      .collect().toSeq == Seq("n217"))
    // a key no filter admits: zero files opened, empty (schema'd) frame
    val absent = (100000 to 110000).map(_.toString)
      .find(k => entries.forall(!_.colBlooms("id").mightContain(k)))
      .getOrElse(fail("no fully-excluded probe in range — filters saturated?"))
    val none = VersionedLake.readPoint(spark, s"$root/lake", "id", absent, None)
    assert(none.inputFiles.isEmpty && none.count() == 0)
    // filters survive the merge path too: upsert one row, re-probe
    val changes = Seq((217L, "renamed", "all", false))
      .toDF("id", "name", "part", "_deleted")
    VersionedLake.mergeUpsert(spark, s"$root/lake", changes, Seq("id"), "part")
    val v2 = VersionedLake.readPoint(spark, s"$root/lake", "id", "217", None)
      .filter(col("id") === 217L).select("name").as[String].collect().toSeq
    assert(v2 == Seq("renamed"))
  }

  test("cleanOrphans removes staging litter and unreferenced data files, nothing committed") {
    import spark.implicits._
    val root = tmp("vlake_orphans")
    buildTwoVersions(root)
    val lake = s"$root/lake"
    // plant the litter a crashed writer leaves: a staging tree and an
    // unreferenced data file inside a committed partition directory —
    // aged past the grace period, as a genuinely dead writer's would be
    val old = System.currentTimeMillis() - 60 * 60 * 1000L
    val staging = new java.io.File(s"$lake/_staging_c9-deadbeef/part=p1")
    staging.mkdirs()
    Files.write(staging.toPath.resolve("part-000.parquet"), Array[Byte](1, 2, 3))
    new java.io.File(s"$lake/_staging_c9-deadbeef").setLastModified(old)
    val orphan = Paths.get(s"$lake/data/part=p1/c9-orphan.parquet")
    Files.write(orphan, Array[Byte](9, 9))
    orphan.toFile.setLastModified(old)
    val before = VersionedLake.read(spark, lake)
      .select("id").as[Long].collect().toSet
    val deleted = VersionedLake.cleanOrphans(lake)
    assert(deleted.exists(_.contains("_staging_c9")), deleted.toString)
    assert(deleted.exists(_.endsWith("c9-orphan.parquet")))
    assert(!Files.exists(orphan))
    assert(!new java.io.File(s"$lake/_staging_c9-deadbeef").exists())
    // every committed file of every version survives; reads unchanged
    (1 to 2).foreach { v =>
      VersionedLake.manifest(lake, v).foreach { case (_, p) =>
        assert(Files.exists(Paths.get(p)), s"committed file deleted: $p")
      }
    }
    assert(VersionedLake.read(spark, lake)
      .select("id").as[Long].collect().toSet == before)
    // idempotent: a second pass finds nothing
    assert(VersionedLake.cleanOrphans(lake).isEmpty)
  }

  test("cleanOrphans aborts on fresh litter (simulated in-flight commit) and deletes nothing") {
    val root = tmp("vlake_orphans_fresh")
    buildTwoVersions(root)
    val lake = s"$root/lake"
    // a writer is mid-commit RIGHT NOW: its staged file is seconds old
    val inflight = Paths.get(s"$lake/data/part=p1/c9-inflight.parquet")
    Files.write(inflight, Array[Byte](7))
    val ex = intercept[IllegalStateException] {
      VersionedLake.cleanOrphans(lake)
    }
    assert(ex.getMessage.contains("grace period"), ex.getMessage)
    // loud abort, zero deletions — the live writer's file survives
    assert(Files.exists(inflight))
    // force overrides for a lake known quiescent
    val deleted = VersionedLake.cleanOrphans(lake, force = true)
    assert(deleted.exists(_.endsWith("c9-inflight.parquet")) && !Files.exists(inflight))
  }

  test("cleanOrphans aborts when no manifest references anything but data exists (moved lake)") {
    val root = tmp("vlake_orphans_moved")
    buildTwoVersions(root)
    // simulate the moved/copied-lake failure mode: the manifests'
    // absolute paths point at the ORIGINAL location
    val movedLake = s"$root/moved"
    Files.move(Paths.get(s"$root/lake"), Paths.get(movedLake))
    val ex = intercept[IllegalStateException] {
      VersionedLake.cleanOrphans(movedLake)
    }
    assert(ex.getMessage.contains("moved"), ex.getMessage)
    // nothing was deleted — every data file survives
    assert(graft.sources.LakeOps.parquetFileCount(s"$movedLake/data") > 0)
  }

  test("maintenance lock: a held fresh lock makes vacuum/cleanOrphans fail loudly; stale locks expire") {
    val root = tmp("vlake_lock")
    buildTwoVersions(root)
    val lake = s"$root/lake"
    val lock = Paths.get(s"$lake/_versions/MAINTENANCE.lock")
    Files.createFile(lock)
    intercept[IllegalStateException] { VersionedLake.cleanOrphans(lake) }
    intercept[IllegalStateException] { VersionedLake.vacuum(lake, keepFrom = 2) }
    assert(Files.exists(lock)) // the held lock is never stolen
    // a crashed holder's lock (older than the stale window) is replaced
    lock.toFile.setLastModified(System.currentTimeMillis() - 2 * 60 * 60 * 1000L)
    assert(VersionedLake.cleanOrphans(lake).isEmpty)
    assert(!Files.exists(lock)) // released on completion
  }

  test("diff captures delete+insert pairs for updates; untouched partitions contribute nothing") {
    import spark.implicits._
    val root = tmp("vlake_diff")
    buildTwoVersions(root)
    val d = VersionedLake.diff(spark, s"$root/lake", 1, 2)
      .select("_change", "id", "name", "score", "part")
      .as[(String, Long, String, Double, String)].collect().toSet
    assert(d == Set(
      ("delete", 1L, "a", 10.0, "p1"),   // update: old form out...
      ("insert", 1L, "a2", 11.0, "p1"),  // ...new form in
      ("insert", 9L, "z", 90.0, "p1"),
      ("delete", 3L, "c", 30.0, "p2")))  // emptied partition
    // unchanged row 2 cancels in the EXCEPT; p3 is not even in the
    // file-level diff (identical manifest entries)
    assert(!d.exists(_._2 == 2L) && !d.exists(_._5 == "p3"))
  }

  test("optimistic concurrency: stale disjoint-partition merge rebases onto the winner") {
    val root = tmp("vlake_occ_disjoint")
    buildTwoVersions(root) // v2 current: p1 {1,2,9}, p3 {4}
    val lake = s"$root/lake"
    // writer W2 plans a merge touching ONLY p3, against v2 …
    val w2changes = Seq((4L, "d2", 44.0, "p3", false))
      .toDF("id", "name", "score", "part", "_deleted")
    val stale = VersionedLake.planMerge(spark, lake, w2changes, Seq("id"), "part")
    assert(stale.baseVersion == 2)
    // … then W1 commits first, touching p1 → v3
    val w1changes = Seq((2L, "b2", 22.0, "p1", false))
      .toDF("id", "name", "score", "part", "_deleted")
    VersionedLake.mergeUpsert(spark, lake, w1changes, Seq("id"), "part")
    assert(VersionedLake.currentVersion(lake) == 3)
    // W2's commit arrives with a stale base: disjoint partitions → rebase lands as v4
    val v = VersionedLake.commitPending(lake, stale)
    assert(v == 4)
    val rows = VersionedLake.read(spark, lake)
      .select("id", "name", "score", "part").as[(Long, String, Double, String)]
      .collect().toSet
    // both writers' effects present: W1's b2 AND W2's d2
    assert(rows == Set(
      (1L, "a2", 11.0, "p1"), (2L, "b2", 22.0, "p1"),
      (9L, "z", 90.0, "p1"), (4L, "d2", 44.0, "p3")))
  }

  test("optimistic concurrency: overlapping-partition merge aborts and cleans its staged files") {
    val root = tmp("vlake_occ_conflict")
    buildTwoVersions(root)
    val lake = s"$root/lake"
    // both writers touch p1; W2 plans first against v2
    val w2changes = Seq((9L, "z9", 99.0, "p1", false))
      .toDF("id", "name", "score", "part", "_deleted")
    val stale = VersionedLake.planMerge(spark, lake, w2changes, Seq("id"), "part")
    assert(stale.newEntries.nonEmpty &&
      stale.newEntries.forall(e => new java.io.File(e.path).exists()))
    // W1 wins the race on p1
    val w1changes = Seq((1L, "a3", 12.0, "p1", false))
      .toDF("id", "name", "score", "part", "_deleted")
    VersionedLake.mergeUpsert(spark, lake, w1changes, Seq("id"), "part")
    // W2's commit must abort (rebasing would drop W1's a3) and delete its staging
    intercept[java.util.ConcurrentModificationException] {
      VersionedLake.commitPending(lake, stale)
    }
    assert(stale.newEntries.forall(e => !new java.io.File(e.path).exists()))
    // the lake is exactly W1's outcome, no half-commit
    assert(VersionedLake.currentVersion(lake) == 3)
    val rows = VersionedLake.read(spark, lake)
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(rows.contains((1L, "a3")) && !rows.contains((9L, "z9")))
  }

  test("optimistic concurrency: parallel appenders all land, none lost") {
    val root = tmp("vlake_occ_append")
    val lake = s"$root/lake"
    VersionedLake.create(Seq((0L, "seed", "p0")).toDF("id", "name", "part"), lake, "part")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 6).map { i =>
      Future {
        VersionedLake.append(Seq((i.toLong, s"w$i", s"p$i")).toDF("id", "name", "part"),
          lake, "part")
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    // every append claimed its own version: 1 (create) + 6 appends
    assert(VersionedLake.currentVersion(lake) == 7)
    val ids = VersionedLake.read(spark, lake).select("id").as[Long].collect().toSet
    assert(ids == (0L to 6L).toSet, s"lost a concurrent append: $ids")
  }

  test("merge and partition-scoped read work for Hive-escaped partition values") {
    val root = tmp("vlake_escape")
    val lake = s"$root/lake"
    val weird = "2026-01-01 10:00" // ':' and ' ' escape to %XX in dir names
    val df = Seq((1L, "a", weird), (2L, "b", "plain")).toDF("id", "name", "part")
    VersionedLake.create(df, lake, "part")
    assert(VersionedLake.manifest(lake, 1).exists(_._1.contains("%3A")))
    // partition-scoped read takes the RAW value
    assert(VersionedLake.read(spark, lake, Some(1), Some(Seq(weird))).count() == 1)
    // a merge touching the escaped partition finds its existing files
    val changes = Seq((1L, "a2", weird, false), (9L, "n", weird, false))
      .toDF("id", "name", "part", "_deleted")
    VersionedLake.mergeUpsert(spark, lake, changes, Seq("id"), "part")
    val rows = VersionedLake.read(spark, lake)
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a2"), (9L, "n"), (2L, "b")))
  }

  test("compaction collapses file counts, preserves content, keeps history readable, idempotent") {
    import spark.implicits._
    val root = tmp("vlake_compact")
    val lake = s"$root/lake"
    // the shape a streaming sink leaves: several small-file commits
    val b1 = (1 to 60).map(i => (i.toLong, s"n$i", s"p${i % 3}")).toDF("id", "name", "part")
      .repartition(4)
    VersionedLake.create(b1, lake, "part")
    val b2 = (61 to 120).map(i => (i.toLong, s"n$i", s"p${i % 3}")).toDF("id", "name", "part")
      .repartition(4)
    VersionedLake.append(b2, lake, "part")
    val pre = VersionedLake.manifestEntries(lake, 2)
    assert(pre.groupBy(_.partition).forall(_._2.size >= 2), "fixture not fragmented")
    val preRows = VersionedLake.read(spark, lake)
      .select("id", "name", "part").as[(Long, String, String)].collect().toSet

    val v = VersionedLake.compactPartitions(spark, lake, "part")
    assert(v == 3)
    val post = VersionedLake.manifestEntries(lake, 3)
    // every partition collapsed to exactly one file, all files new
    assert(post.groupBy(_.partition).forall(_._2.size == 1), post.toString)
    assert(post.map(_.path).toSet.intersect(pre.map(_.path).toSet).isEmpty)
    // content row-identical across the rewrite
    assert(VersionedLake.read(spark, lake)
      .select("id", "name", "part").as[(Long, String, String)].collect().toSet == preRows)
    // pre-compaction versions stay readable (time travel intact)
    assert(VersionedLake.read(spark, lake, Some(1)).count() == 60)
    assert(VersionedLake.read(spark, lake, Some(2)).count() == 120)
    // idempotent: nothing left to compact, no new version
    assert(VersionedLake.compactPartitions(spark, lake, "part") == 3)
  }

  test("compaction re-records zone maps and blooms on the consolidated files") {
    import spark.implicits._
    val root = tmp("vlake_compact_meta")
    val lake = s"$root/lake"
    val df = (1 to 200).map(i => (i.toLong, i.toDouble, "all")).toDF("id", "score", "part")
      .repartition(5)
    VersionedLake.create(df, lake, "part",
      blooms = Seq(VersionedLake.BloomSpec("id", m = 4096)))
    VersionedLake.compactPartitions(spark, lake, "part")
    val post = VersionedLake.manifestEntries(lake, 2)
    assert(post.size == 1)
    assert(post.head.colStats.get("score").contains((1.0, 200.0)))
    assert(post.head.colBlooms.get("id").exists(_.mightContain("137")))
    // point read through the compacted manifest still resolves
    assert(VersionedLake.readPoint(spark, lake, "id", "137", None)
      .filter(col("id") === 137L).count() == 1)
  }

  test("rewritePartitions: content fold commits in place, history intact, scope guarded") {
    import spark.implicits._
    val root = tmp("vlake_rewrite")
    val lake = s"$root/lake"
    VersionedLake.create(
      (1 to 60).map(i => (i.toLong, s"p${i % 3}")).toDF("v", "part"), lake, "part")
    VersionedLake.append(
      (61 to 90).map(i => (i.toLong, s"p${i % 3}")).toDF("v", "part"), lake, "part")
    val preSum = VersionedLake.read(spark, lake).agg(sum("v")).head().getLong(0)

    // fold every partition to one (sum, part) row
    val v = VersionedLake.rewritePartitions(spark, lake, "part", df =>
      df.groupBy(col("part")).agg(sum(col("v")).as("v"))
        .select(col("v"), col("part")))
    assert(v == 3)
    val folded = VersionedLake.read(spark, lake)
    assert(folded.count() == 3)
    assert(folded.agg(sum("v")).head().getLong(0) == preSum)
    // pre-rewrite versions stay time-travel-readable
    assert(VersionedLake.read(spark, lake, Some(2)).count() == 90)
    // a transform that drops the partition column is refused loudly
    assert(intercept[IllegalArgumentException] {
      VersionedLake.rewritePartitions(spark, lake, "part",
        df => df.select(col("v")))
    }.getMessage.contains("partition column"))
    // a TYPE-changing transform is refused before anything commits —
    // silently re-recording the old schema over narrowed parquet would
    // break every later read at scan time
    assert(intercept[IllegalArgumentException] {
      VersionedLake.rewritePartitions(spark, lake, "part",
        df => df.withColumn("v", col("v").cast("int")))
    }.getMessage.contains("schema evolution"))
    assert(VersionedLake.currentVersion(lake) == 3,
      "refused rewrites must not commit")
    // scoped rewrite touches only the named partition
    val v4 = VersionedLake.rewritePartitions(spark, lake, "part",
      df => df.withColumn("v", col("v") * 2), partitions = Some(Seq("p0")))
    assert(v4 == 4)
    val after = VersionedLake.read(spark, lake)
      .select("part", "v").as[(String, Long)].collect().toMap
    val before = folded.select("part", "v").as[(String, Long)].collect().toMap
    assert(after("p0") == 2 * before("p0"))
    assert(after("p1") == before("p1") && after("p2") == before("p2"))
  }

  test("compaction OCC: interleaved commit to a compacted partition aborts; disjoint rebases") {
    import spark.implicits._
    val root = tmp("vlake_compact_occ")
    val lake = s"$root/lake"
    val df = (1 to 40).map(i => (i.toLong, s"n$i", s"p${i % 2}")).toDF("id", "name", "part")
      .repartition(3)
    VersionedLake.create(df, lake, "part")
    // plan compaction of BOTH partitions against v1 …
    val stale = VersionedLake.planCompact(spark, lake, "part")
    assert(stale.touched == Set("p0", "p1"))
    // … then a writer merges into p0 first
    val w1 = Seq((2L, "renamed", "p0", false)).toDF("id", "name", "part", "_deleted")
    VersionedLake.mergeUpsert(spark, lake, w1, Seq("id"), "part")
    // the compaction must abort (its p0 rewrite predates the merge) and
    // clean its staged files
    intercept[java.util.ConcurrentModificationException] {
      VersionedLake.commitPending(lake, stale)
    }
    assert(stale.newEntries.forall(e => !new java.io.File(e.path).exists()))
    // the winner's row is intact; a retry compacts the post-merge state
    val v = VersionedLake.compactPartitions(spark, lake, "part")
    assert(v == 3)
    val rows = VersionedLake.read(spark, lake)
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(rows.contains((2L, "renamed")))
    assert(rows.size == 40)

    // disjoint case: plan a p0-only compaction, interleave an append to
    // a NEW partition — the compaction rebases and both effects land
    VersionedLake.append(
      (100 to 110).map(i => (i.toLong, s"x$i", "p0")).toDF("id", "name", "part")
        .repartition(2), lake, "part") // v4: p0 fragmented again
    val plan2 = VersionedLake.planCompact(spark, lake, "part",
      partitions = Some(Seq("p0")))
    assert(plan2.touched == Set("p0"))
    VersionedLake.append(Seq((999L, "z", "p9")).toDF("id", "name", "part"), lake, "part") // v5
    val v2 = VersionedLake.commitPending(lake, plan2)
    assert(v2 == 6)
    val finalRows = VersionedLake.read(spark, lake).select("id").as[Long].collect().toSet
    assert(finalRows.contains(999L) && finalRows.contains(105L) && finalRows.size == 52)
    assert(VersionedLake.manifestEntries(lake, 6).count(_.partition == "p0") == 1)
  }

  test("zorder: multi-column re-clustering makes box predicates prune; rows identical; OCC abort") {
    import spark.implicits._
    val root = tmp("vlake_zorder")
    val lake = s"$root/lake"
    val rnd = new scala.util.Random(7)
    // 2000 rows, values scrambled across 8 round-robin files: every
    // file spans the whole (x, y) square, so zone maps prove nothing
    val raw = (0 until 2000).map { i =>
      (i.toLong, rnd.nextDouble() * 100.0, rnd.nextLong(1000L), "p0")
    }
    VersionedLake.create(raw.toDF("id", "x", "y", "part").repartition(8),
      lake, "part")
    def overlaps(es: Seq[VersionedLake.Entry], c: String,
        lo: Double, hi: Double): Int =
      es.count(_.colStats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi })
    val before = VersionedLake.manifestEntries(lake, 1)
    assert(before.size >= 8)
    assert(overlaps(before, "x", 10, 20) == before.size,
      "scrambled files should all cover the x slice")
    val v = VersionedLake.zorderPartitions(spark, lake, "part",
      Seq("x", "y"), filesPerPartition = 8)
    assert(v == 2)
    val after = VersionedLake.manifestEntries(lake, 2)
    // same rows, different layout
    assert(VersionedLake.read(spark, lake).select("id").as[Long]
      .collect().toSet == raw.map(_._1).toSet)
    // each clustered file is now tight on BOTH columns at once
    assert(overlaps(after, "x", 10, 20) < after.size)
    assert(overlaps(after, "y", 100, 200) < after.size)
    // …and the automatic prune rule turns that into fewer scanned files
    val q = VersionedLake.read(spark, lake)
      .filter(col("x") >= 10 && col("x") <= 20 &&
        col("y") >= 100 && col("y") <= 200)
    val scanned = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.toSeq
    }.flatten
    assert(scanned.length < after.size,
      s"box predicate should skip files: ${scanned.length} vs ${after.size}")
    val expected = raw.count(r =>
      r._2 >= 10 && r._2 <= 20 && r._3 >= 100 && r._3 <= 200)
    assert(q.count() == expected, "pruning must not change the rows")
    // OCC: a commit to a touched partition between plan and commit
    // aborts the layout rewrite and cleans its staged files
    val stale = VersionedLake.planZorder(spark, lake, "part", Seq("x"),
      filesPerPartition = 4, partitions = None, bits = 6)
    VersionedLake.append(Seq((9999L, 1.0, 1L, "p0")).toDF("id", "x", "y", "part"),
      lake, "part")
    intercept[java.util.ConcurrentModificationException] {
      VersionedLake.commitPending(lake, stale)
    }
    assert(stale.newEntries.forall(e => !new java.io.File(e.path).exists()))
    // a retry clusters the post-append state
    val v2 = VersionedLake.zorderPartitions(spark, lake, "part", Seq("x"))
    assert(v2 == 4)
    assert(VersionedLake.read(spark, lake).count() == 2001)
  }

  test("zorder on a STRING column: categorical re-clustering tightens the string envelopes and prunes") {
    import spark.implicits._
    val root = tmp("vlake_zstr")
    val lake = s"$root/lake"
    val rnd = new scala.util.Random(7)
    val langs = Seq("de", "en", "es", "fr", "zh")
    // langs scrambled across 8 round-robin files: every file's string
    // envelope spans de..zh, so a categorical predicate prunes nothing
    val raw = (0 until 2000).map { i =>
      (i.toLong, langs(rnd.nextInt(langs.size)), rnd.nextLong(1000L), "p0")
    }
    VersionedLake.create(raw.toDF("id", "lang", "y", "part").repartition(8),
      lake, "part")
    def covering(es: Seq[VersionedLake.Entry], v: String): Int =
      es.count(_.strStats.get("lang").forall { case (mn, mx) =>
        VersionedLake.utf8Compare(mn, v) <= 0 && VersionedLake.utf8Compare(mx, v) >= 0
      })
    val before = VersionedLake.manifestEntries(lake, 1)
    assert(covering(before, "es") == before.size,
      "scrambled files should all cover 'es'")
    val v = VersionedLake.zorderPartitions(spark, lake, "part",
      Seq("lang", "y"), filesPerPartition = 8)
    assert(v == 2)
    val after = VersionedLake.manifestEntries(lake, 2)
    assert(VersionedLake.read(spark, lake).select("id").as[Long]
      .collect().toSet == raw.map(_._1).toSet, "same rows, new layout")
    assert(covering(after, "es") < after.size,
      "clustered files must be tight on the string column")
    // the automatic rule turns the tight envelopes into skipped files
    val q = VersionedLake.read(spark, lake).filter(col("lang") === "es")
    val scanned = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.toSeq
    }.flatten
    assert(scanned.length < after.size,
      s"lang = 'es' should skip files post-zorder: ${scanned.length} vs ${after.size}")
    assert(q.count() == raw.count(_._2 == "es"), "pruning must not change rows")
  }

  test("vacuum reclaims the small files a compaction superseded") {
    import spark.implicits._
    val root = tmp("vlake_compact_vacuum")
    val lake = s"$root/lake"
    val df = (1 to 50).map(i => (i.toLong, s"n$i", s"p${i % 2}")).toDF("id", "name", "part")
      .repartition(4)
    VersionedLake.create(df, lake, "part")
    val smallFiles = VersionedLake.manifest(lake, 1).map(_._2)
    VersionedLake.compactPartitions(spark, lake, "part") // v2
    // history below the compaction point expired → superseded files go
    VersionedLake.vacuum(lake, keepFrom = 2)
    assert(smallFiles.forall(p => !new java.io.File(p).exists()))
    // the compacted version reads in full
    assert(VersionedLake.read(spark, lake).count() == 50)
  }

  test("table metadata: stats/bloom specs recorded at create are inherited by every later commit") {
    import spark.implicits._
    val root = tmp("vlake_meta")
    val lake = s"$root/lake"
    VersionedLake.create(
      (1 to 40).map(i => (i.toLong, i.toDouble, s"p${i % 2}")).toDF("id", "v", "part")
        .repartition(3),
      lake, "part",
      blooms = Seq(VersionedLake.BloomSpec("id", m = 4096)))
    assert(VersionedLake.tableBlooms(lake) == Seq(VersionedLake.BloomSpec("id", m = 4096)))
    def allCarryMeta(v: Int, newOnly: Boolean = false): Unit = {
      val entries = VersionedLake.manifestEntries(lake, v)
        .filter(e => !newOnly || e.path.contains(s"c$v-"))
      assert(entries.nonEmpty)
      assert(entries.forall(_.colStats.contains("v")), s"v$v lost zone maps")
      assert(entries.forall(_.colBlooms.contains("id")), s"v$v lost blooms")
    }
    // append WITHOUT re-stating the spec: new files still carry both
    VersionedLake.append(
      (41 to 60).map(i => (i.toLong, i.toDouble, s"p${i % 2}")).toDF("id", "v", "part"),
      lake, "part")
    allCarryMeta(2)
    // merge WITHOUT re-stating: rewritten partition keeps both
    VersionedLake.mergeUpsert(spark, lake,
      Seq((2L, 2.5, "p0", false)).toDF("id", "v", "part", "_deleted"),
      Seq("id"), "part")
    allCarryMeta(3)
    // compaction WITHOUT re-stating: consolidated files keep both and
    // point/range reads still prune off the new manifest
    VersionedLake.compactPartitions(spark, lake, "part")
    val cur = VersionedLake.currentVersion(lake)
    allCarryMeta(cur)
    assert(VersionedLake.readPoint(spark, lake, "id", "17", None)
      .filter(col("id") === 17L).count() == 1)
    assert(VersionedLake.readRange(spark, lake, "v", 2.0, 3.0, None)
      .filter(col("v").between(2.0, 3.0)).count() == 2) // v=2.5 and v=3.0
    // the spec survives in the newest manifest's headers
    assert(VersionedLake.tableBlooms(lake).map(_.column) == Seq("id"))
  }

  test("change feed: per-version batches equal batch diffs across interleaved commits, merges, compaction") {
    import graft.streaming.ChangeFeed
    import spark.implicits._
    val root = tmp("vlake_feed")
    val lake = s"$root/lake"
    val state = s"$root/feed_state"
    def collectDiff(df: org.apache.spark.sql.DataFrame) =
      df.select("_change", "id", "name", "part")
        .as[(String, Long, String, String)].collect().toSet

    // v1: initial snapshot
    VersionedLake.create(
      Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "name", "part"), lake, "part")
    val batches = scala.collection.mutable.ListBuffer.empty[(Int, Int, Set[(String, Long, String, String)])]
    def drain() = ChangeFeed.processAvailable(spark, lake, state) { (df, f, t) =>
      batches += ((f, t, collectDiff(df)))
    }
    assert(drain() == 1)
    assert(batches.toList == List((0, 1, Set(
      ("insert", 1L, "a", "p1"), ("insert", 2L, "b", "p2")))))

    // interleave: a merge (update 1, delete 2) then an append, BEFORE
    // the next poll — both versions arrive as separate ordered batches
    VersionedLake.mergeUpsert(spark, lake,
      Seq((1L, "a2", "p1", false), (2L, "b", "p2", true))
        .toDF("id", "name", "part", "_deleted"),
      Seq("id"), "part")
    VersionedLake.append(Seq((3L, "c", "p1")).toDF("id", "name", "part"), lake, "part")
    batches.clear()
    assert(drain() == 2)
    assert(batches.map(b => (b._1, b._2)).toList == List((1, 2), (2, 3)))
    // each streamed batch equals the batch-mode diff for that transition
    assert(batches(0)._3 == collectDiff(VersionedLake.diff(spark, lake, 1, 2)))
    assert(batches(1)._3 == collectDiff(VersionedLake.diff(spark, lake, 2, 3)))
    assert(batches(1)._3 == Set(("insert", 3L, "c", "p1")))

    // a compaction version emits ZERO changes (rows identical, files moved)
    assert(VersionedLake.compactPartitions(spark, lake, "part") == 4)
    batches.clear()
    assert(drain() == 1)
    assert(batches.head._3.isEmpty && batches.head._2 == 4)

    // drained feed: nothing new, nothing re-delivered
    assert(drain() == 0)

    // at-least-once: a handler crash leaves the watermark, so the SAME
    // version re-delivers on the next poll
    VersionedLake.append(Seq((9L, "z", "p2")).toDF("id", "name", "part"), lake, "part")
    intercept[RuntimeException] {
      ChangeFeed.processAvailable(spark, lake, state) { (_, _, _) =>
        throw new RuntimeException("consumer crash")
      }
    }
    assert(ChangeFeed.watermark(state) == 4)
    batches.clear()
    assert(drain() == 1)
    assert(batches.head._3 == Set(("insert", 9L, "z", "p2")))

    // a fresh consumer (new state dir) replays from the bootstrap
    var replayed = 0
    ChangeFeed.processAvailable(spark, lake, s"$root/feed_state2") { (_, _, _) =>
      replayed += 1
    }
    assert(replayed == 5)
  }

  test("row counts in the manifest: COUNT(*) from metadata across commit kinds") {
    import spark.implicits._
    val root = tmp("vlake_rows")
    val lake = s"$root/lake"
    VersionedLake.create(
      (1 to 30).map(i => (i.toLong, s"n$i", s"p${i % 2}")).toDF("id", "name", "part")
        .repartition(3), lake, "part")
    assert(VersionedLake.manifestEntries(lake, 1).map(_.rows).sum == 30L)
    assert(VersionedLake.rowCount(spark, lake) == 30L)
    // append, merge (update+delete), compact: metadata count tracks reality
    VersionedLake.append(
      (31 to 40).map(i => (i.toLong, s"n$i", s"p${i % 2}")).toDF("id", "name", "part"),
      lake, "part")
    assert(VersionedLake.rowCount(spark, lake) == 40L)
    VersionedLake.mergeUpsert(spark, lake,
      Seq((1L, "x", "p1", false), (2L, "b", "p0", true))
        .toDF("id", "name", "part", "_deleted"), Seq("id"), "part")
    assert(VersionedLake.rowCount(spark, lake) == 39L)
    assert(VersionedLake.rowCount(spark, lake) ==
      VersionedLake.read(spark, lake).count())
    VersionedLake.compactPartitions(spark, lake, "part")
    assert(VersionedLake.rowCount(spark, lake) == 39L)
    // per-version counts (time travel)
    assert(VersionedLake.rowCount(spark, lake, Some(1)) == 30L)
    assert(VersionedLake.rowCount(spark, lake, Some(2)) == 40L)
  }

  test("schema tracked in the commit log: add-column evolution, no footer inference, typed refusal") {
    import spark.implicits._
    val root = tmp("vlake_schema")
    val lake = s"$root/lake"
    VersionedLake.create(
      Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "name", "part"), lake, "part")
    assert(VersionedLake.recordedSchema(lake, 1).fieldNames.toSet ==
      Set("id", "name", "part"))
    // append a batch CARRYING a new column: the recorded schema evolves
    VersionedLake.append(
      Seq((3L, "c", "p1", 9.5)).toDF("id", "name", "part", "score"), lake, "part")
    assert(VersionedLake.recordedSchema(lake, 2).fieldNames.toSet ==
      Set("id", "name", "part", "score"))
    // current read: merged schema, pre-evolution rows surface nulls
    val cur = VersionedLake.read(spark, lake)
      .select("id", "score").as[(Long, Option[Double])].collect().toMap
    assert(cur == Map(1L -> None, 2L -> None, 3L -> Some(9.5)))
    // the NEW column is recorded nullable even though the writer's
    // tuple encoder claimed nullable=false — otherwise NullPropagation
    // folds IsNull(score) to false and this filter silently loses the
    // pre-evolution rows
    assert(VersionedLake.recordedSchema(lake, 2)("score").nullable)
    assert(VersionedLake.read(spark, lake)
      .filter(col("score").isNull).count() == 2)
    // time travel reads v1 under ITS schema — no score column at all
    assert(!VersionedLake.read(spark, lake, Some(1)).columns.contains("score"))
    // compaction rewrites under the evolved schema (the column
    // survives consolidation even for files that predate it)
    VersionedLake.append(Seq((4L, "d", "p1")).toDF("id", "name", "part"), lake, "part")
    VersionedLake.compactPartitions(spark, lake, "part")
    val post = VersionedLake.read(spark, lake)
      .select("id", "score").as[(Long, Option[Double])].collect().toMap
    assert(post == Map(1L -> None, 2L -> None, 3L -> Some(9.5), 4L -> None))
    assert(VersionedLake.recordedSchema(lake, VersionedLake.currentVersion(lake))
      .fieldNames.contains("score"))
    // a TYPE change is refused loudly, not silently migrated
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.append(
        Seq((5L, "e", "p1", "not-a-double")).toDF("id", "name", "part", "score"),
        lake, "part")
    }
    assert(ex.getMessage.contains("schema evolution"), ex.getMessage)
    // nullability is ADVISORY, not a type: an append whose array column
    // differs only in containsNull (primitive-encoder vs parquet form)
    // evolves the recorded schema to the widened nullable form
    val nlake = s"$root/nlake"
    VersionedLake.create(Seq((1L, Seq(1.0f), "p1")).toDF("id", "vs", "part")
      .select(col("id"), col("vs").cast("array<float>"), col("part")),
      nlake, "part")
    VersionedLake.append(
      Seq((2L, Seq(2.0f), "p1")).toDF("id", "vs", "part"), nlake, "part")
    assert(VersionedLake.read(spark, nlake).count() == 2)
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    assert(VersionedLake.recordedSchema(nlake, 2)("vs").dataType ==
      ArrayType(FloatType, containsNull = true))
    // TOP-LEVEL field nullability widens too: a tuple-encoder create
    // (id nullable=false) then an append whose id is genuinely
    // nullable must record nullable=true, or codegen would elide null
    // checks over files that carry nulls
    val tlake = s"$root/tlake"
    VersionedLake.create(Seq((1L, "p1")).toDF("id", "part"), tlake, "part")
    assert(!VersionedLake.recordedSchema(tlake, 1)("id").nullable)
    VersionedLake.append(
      Seq((Some(2L), "p1"), (None, "p1")).toDF("id", "part"), tlake, "part")
    assert(VersionedLake.recordedSchema(tlake, 2)("id").nullable)
    assert(VersionedLake.read(spark, tlake).filter(col("id").isNull).count() == 1)
  }

  test("timestamp time travel: versionAt/readAsOf resolve the commit-time headers") {
    import spark.implicits._
    val root = tmp("vlake_asof")
    val lake = s"$root/lake"
    VersionedLake.create(Seq((1L, "a", "p1")).toDF("id", "name", "part"), lake, "part")
    Thread.sleep(15)
    VersionedLake.append(Seq((2L, "b", "p1")).toDF("id", "name", "part"), lake, "part")
    val t1 = VersionedLake.commitTimestamp(lake, 1)
    val t2 = VersionedLake.commitTimestamp(lake, 2)
    assert(t1 < t2)
    assert(VersionedLake.versionAt(lake, t1) == 1)
    assert(VersionedLake.versionAt(lake, t2 - 1) == 1)
    assert(VersionedLake.versionAt(lake, t2) == 2)
    assert(VersionedLake.readAsOf(spark, lake, t1).count() == 1)
    assert(VersionedLake.readAsOf(spark, lake, System.currentTimeMillis()).count() == 2)
    intercept[IllegalArgumentException] {
      VersionedLake.versionAt(lake, t1 - 1000)
    }
  }

  test("streaming auto-compaction bounds file growth without disturbing the replay guard") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = tmp("vlake_autocompact")
    val lake = s"$root/lake"
    val ms = MemoryStream[(Long, String, String)]
    def run(): Unit = {
      val q = VersionedLake.streamingCommit(
        ms.toDS().toDF("id", "name", "part").repartition(3),
        lake, "part", s"$root/ckpt", compactEvery = 2)
      q.awaitTermination()
    }
    // four micro-batches, each fragmenting both partitions
    (0 until 4).foreach { b =>
      ms.addData((1 to 12).map(i => (b * 100L + i, s"n$b-$i", s"p${i % 2}")))
      run()
    }
    // every appended row present exactly once
    val rows = VersionedLake.read(spark, lake).select("id").as[Long].collect()
    assert(rows.length == 48 && rows.toSet.size == 48)
    // compactions interleaved: more versions than batches, and the
    // version AFTER each even one collapses to one file per partition
    val cur = VersionedLake.currentVersion(lake)
    assert(cur > 4, s"no compaction commits landed (v$cur)")
    val lastCompacted = (1 to cur)
      .filter(v => VersionedLake.manifestEntries(lake, v)
        .groupBy(_.partition).forall(_._2.size == 1)).lastOption
    assert(lastCompacted.isDefined, "no fully-compacted version found")
    // the replay watermark still reflects only DATA batches — a
    // restart with no new data commits nothing
    assert(VersionedLake.committedBatchId(lake) == 3L)
    val before = VersionedLake.currentVersion(lake)
    run()
    assert(VersionedLake.currentVersion(lake) == before)
    // compaction never lost history: batch 0's version still reads
    assert(VersionedLake.read(spark, lake, Some(1)).count() == 12)
  }

  test("change feed drives an incremental aggregate that equals the batch recompute") {
    import graft.streaming.ChangeFeed
    import spark.implicits._
    val root = tmp("vlake_incr_agg")
    val lake = s"$root/lake"
    val state = s"$root/state"
    // maintain SUM(score) per part incrementally off the CDC stream:
    // insert adds, delete subtracts — the classic changelog fold
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def fold(): Unit = ChangeFeed.processAvailable(spark, lake, state) { (df, _, _) =>
      df.select("_change", "part", "score").as[(String, String, Double)]
        .collect().foreach { case (ch, p, s) =>
          acc(p) = acc(p) + (if (ch == "insert") s else -s)
        }
    }
    VersionedLake.create(Seq((1L, "p1", 10.0), (2L, "p2", 20.0), (3L, "p1", 5.0))
      .toDF("id", "part", "score"), lake, "part")
    fold()
    VersionedLake.mergeUpsert(spark, lake,
      Seq((1L, "p1", 12.5, false), (2L, "p2", 20.0, true), (4L, "p2", 7.0, false))
        .toDF("id", "part", "score", "_deleted"), Seq("id"), "part")
    VersionedLake.append(Seq((5L, "p3", 3.0)).toDF("id", "part", "score"), lake, "part")
    VersionedLake.compactPartitions(spark, lake, "part")
    fold()
    // the incrementally-maintained sums equal a fresh batch aggregate
    val batch = VersionedLake.read(spark, lake)
      .groupBy("part").agg(org.apache.spark.sql.functions.sum("score").as("s"))
      .as[(String, Double)].collect().toMap
    assert(acc.filter(_._2 != 0.0).toMap == batch)
    assert(batch == Map("p1" -> 17.5, "p2" -> 7.0, "p3" -> 3.0))
  }

  test("merging every row away yields a readable empty version") {
    val root = tmp("vlake_empty")
    val df = Seq((1L, "a", "p1")).toDF("id", "name", "part")
    VersionedLake.create(df, s"$root/lake", "part")
    val changes = Seq((1L, "a", "p1", true)).toDF("id", "name", "part", "_deleted")
    VersionedLake.mergeUpsert(spark, s"$root/lake", changes, Seq("id"), "part")
    val v2 = VersionedLake.read(spark, s"$root/lake", Some(2))
    assert(v2.count() == 0)
    assert(v2.columns.contains("id"))
    assert(VersionedLake.read(spark, s"$root/lake", Some(1)).count() == 1)
  }

  /** Shared multi-column-bloom fixture: 2 files per partition so
    * per-file pruning is observable inside a partition. */
  private def buildMultiBloomLake(root: String): String = {
    val df = (1 to 400).map(i => (i.toLong, s"u${i % 20}", s"p${i % 4}"))
      .toDF("id", "user", "part")
    VersionedLake.create(df.repartition(2), s"$root/lake", "part",
      blooms = Seq(VersionedLake.BloomSpec("id"),
        VersionedLake.BloomSpec("user")),
      props = Map("geometry" -> "g1", "parts" -> "4"))
    s"$root/lake"
  }

  test("multi-column blooms: manifest round-trip; per-column point pruning; maxKeys fallback; refusal") {
    val root = tmp("vlake_mbloom")
    val lake = buildMultiBloomLake(root)
    // the 8-field manifest line round-trips: every entry carries a
    // filter per declared column, and the table spec reparses
    assert(VersionedLake.tableBlooms(lake).map(_.column).toSet ==
      Set("id", "user"))
    assert(VersionedLake.tableProps(lake) ==
      Map("geometry" -> "g1", "parts" -> "4"))
    val entries = VersionedLake.manifestEntries(lake, 1)
    assert(entries.nonEmpty && entries.forall(e =>
      e.colBlooms.contains("id") && e.colBlooms.contains("user")))
    val allFiles = entries.map(_.path).toSet

    // the read scans EXACTLY the files prunedPointFiles reports
    val pruned = VersionedLake.prunedPointFiles(lake, "id", Seq("5"))
    val read = VersionedLake.readPoints(spark, lake, "id", Seq("5"))
    assert(read.inputFiles.map(f =>
      java.net.URI.create(f).getPath).toSet == pruned.toSet)
    assert(pruned.size < allFiles.size, s"id probe pruned nothing")
    assert(read.filter(col("id") === 5L).count() == 1)

    // the user column prunes with its OWN filters (20 rows share u5)
    val uPruned = VersionedLake.prunedPointFiles(lake, "user", Seq("u5"))
    assert(uPruned.size < allFiles.size)
    assert(VersionedLake.readPoints(spark, lake, "user", Seq("u5"))
      .filter(col("user") === "u5").count() == 20)

    // absent key: every file's filter rejects it — zero-file read,
    // still a valid (schema-preserving, empty) DataFrame
    assert(VersionedLake.prunedPointFiles(lake, "id", Seq("99999")).isEmpty)
    assert(VersionedLake.readPoints(spark, lake, "id", Seq("99999"))
      .count() == 0)

    // maxKeys fallback: beyond the cap the prune degenerates to the
    // full (or partition-narrowed) file list — reported and scanned
    val manyKeys = (1 to 10).map(_.toString)
    assert(VersionedLake.prunedPointFiles(lake, "id", manyKeys,
      maxKeys = 3).toSet == allFiles)
    assert(VersionedLake.readPoints(spark, lake, "id", manyKeys,
      maxKeys = 3).inputFiles.map(f =>
      java.net.URI.create(f).getPath).toSet == allFiles)

    // partitions narrow BEFORE the bloom tests, and both prunes compose
    val p1Files = entries.filter(_.partition == "p1").map(_.path).toSet
    val both = VersionedLake.prunedPointFiles(lake, "id", Seq("5"),
      partitions = Some(Seq("p1")))
    assert(both.toSet.subsetOf(p1Files) && both.toSet.subsetOf(pruned.toSet))

    // a column no entry records refuses loudly — in the READ and in
    // the report alike (one shared implementation)
    val e1 = intercept[IllegalArgumentException](
      VersionedLake.readPoints(spark, lake, "part", Seq("p1")))
    assert(e1.getMessage.contains("no Bloom filter"))
    val e2 = intercept[IllegalArgumentException](
      VersionedLake.prunedPointFiles(lake, "part", Seq("p1")))
    assert(e2.getMessage.contains("no Bloom filter"))
  }

  test("requireProps: mismatched re-statement fails loudly; matching and never-recorded keys pass") {
    val root = tmp("vlake_props")
    val lake = buildMultiBloomLake(root)
    VersionedLake.requireProps(lake, Map("geometry" -> "g1"))
    VersionedLake.requireProps(lake, Map("neverRecorded" -> "anything"))
    val e = intercept[IllegalArgumentException](
      VersionedLake.requireProps(lake, Map("geometry" -> "g2")))
    assert(e.getMessage.contains("geometry"))
    // append goes through the same check
    val more = Seq((401L, "u1", "p1")).toDF("id", "user", "part")
    intercept[IllegalArgumentException](
      VersionedLake.append(more, lake, "part",
        props = Map("geometry" -> "g2")))
    // a matching re-statement appends fine and inherits the spec
    VersionedLake.append(more, lake, "part", props = Map("geometry" -> "g1"))
    assert(VersionedLake.manifestEntries(lake, 2)
      .filter(_.path.contains("/c2-"))
      .forall(_.colBlooms.contains("id")))
  }

  test("dropPartitions: metadata-only expiry, history readable, vacuum reclaims, replay guarded") {
    val root = tmp("vlake_expire")
    val lake = s"$root/lake"
    val df = (1 to 30).map(i => (i.toLong, f"2024-01-${i % 3 + 1}%02d"))
      .toDF("v", "day")
    VersionedLake.create(df, lake, "day")
    val filesBefore = VersionedLake.read(spark, lake).inputFiles.toSet
    val (v2, dropped) = VersionedLake.expirePartitionsBelow(lake, "2024-01-03",
      batchId = Some(5L))
    assert(v2 == 2 && dropped == Seq("2024-01-01", "2024-01-02"))
    // current excludes the expired partitions; nothing else moved
    val cur = VersionedLake.read(spark, lake)
    assert(cur.select("day").distinct().collect().map(_.getString(0)).toSeq
      == Seq("2024-01-03"))
    // METADATA-only: every surviving file is byte-identical (same path)
    assert(cur.inputFiles.toSet.subsetOf(filesBefore))
    // history stays readable until vacuumed
    assert(VersionedLake.read(spark, lake, Some(1)).count() == 30)
    // replayed batch id is a no-op; unknown partitions are ignored
    assert(VersionedLake.dropPartitions(lake, Seq("2024-01-03"),
      batchId = Some(5L)) == 2)
    assert(VersionedLake.dropPartitions(lake, Seq("2099-12-31")) == 2)
    // vacuum below v2 reclaims exactly the excluded partitions' files
    VersionedLake.vacuum(lake, keepFrom = 2)
    val gone = filesBefore -- VersionedLake.read(spark, lake).inputFiles.toSet
    assert(gone.nonEmpty && gone.forall(p =>
      p.contains("day=2024-01-01") || p.contains("day=2024-01-02")), gone)
    assert(gone.forall(p => !new java.io.File(
      new java.net.URI(p).getPath).exists()), "vacuum left expired files")
    // the drop is a real commit: a fresh session's read agrees
    assert(VersionedLake.read(spark, lake).count() ==
      df.filter(col("day") === "2024-01-03").count())
  }

  test("columnStats: exact per-partition fold of the zone maps, no data scan") {
    val root = tmp("vlake_colstats_tbl")
    val df = Seq((1L, 10.0, "p1"), (2L, 25.0, "p1"), (3L, -4.0, "p2"))
      .toDF("id", "score", "part")
    VersionedLake.create(df, s"$root/lake", "part")
    VersionedLake.append(Seq((4L, 99.0, "p1")).toDF("id", "score", "part"),
      s"$root/lake", "part")
    val got = VersionedLake.columnStats(spark, s"$root/lake", "score")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // file COUNT is layout (write parallelism); rows/min/max are content
    assert(got("p1")._1 >= 2L && got("p1")._2 == 3L &&
      got("p1")._3 == 10.0 && got("p1")._4 == 99.0, got.toString)
    assert(got("p2")._2 == 1L && got("p2")._3 == -4.0 && got("p2")._4 == -4.0,
      got.toString)
    // a STRING column folds its truncated envelopes — bounds, in the
    // same binary order the envelopes were recorded in — and the
    // per-partition null counts fold exactly
    val names = Seq((5L, "alpha", "p1"), (6L, "omega", "p1"),
      (7L, null.asInstanceOf[String], "p1"), (8L, "kappa", "p2"))
      .toDF("id", "name", "part")
    VersionedLake.create(names, s"$root/slake", "part")
    val sgot = VersionedLake.columnStats(spark, s"$root/slake", "name")
      .collect().map(r => r.getString(0) ->
        (r.getString(3), r.getString(4), r.getLong(5))).toMap
    assert(sgot("p1") == (("alpha", "omega", 1L)) &&
      sgot("p2") == (("kappa", "kappa", 0L)), sgot.toString)
    // an unrecorded column still refuses, naming BOTH stats families
    val err = intercept[IllegalArgumentException] {
      VersionedLake.columnStats(spark, s"$root/slake", "nope")
    }
    assert(err.getMessage.contains("name"), err.getMessage)
  }

  test("history: one metadata row per surviving version; vacuum removes its rows; TVF parity") {
    val root = tmp("vlake_history")
    val lake = s"$root/lake"
    VersionedLake.create(Seq((1L, "p1"), (2L, "p2")).toDF("id", "part"),
      lake, "part")
    VersionedLake.append(Seq((3L, "p1")).toDF("id", "part"), lake, "part",
      batchId = Some(7L))
    VersionedLake.mergeUpsert(spark, lake,
      Seq((2L, "p2", true)).toDF("id", "part", "_deleted"),
      Seq("id"), "part", retractId = Some(3L))
    val h = VersionedLake.history(spark, lake).collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(h.forall(!_.isNullAt(1)), "every commit records its timestamp")
    val byV = h.map(r => r.getInt(0) ->
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // file counts are layout; ids and row counts are content
    assert(byV(1)._1 == -1L && byV(1)._2 == -1L && byV(1)._4 == 2L, byV.toString)
    assert(byV(2)._1 == 7L && byV(2)._4 == 3L)            // batch-id append
    assert(byV(3)._2 == 3L && byV(3)._4 == 2L)            // retraction
    // vacuumed versions vanish from the history (their manifests are gone)
    VersionedLake.vacuum(lake, keepFrom = 3)
    assert(VersionedLake.history(spark, lake).collect()
      .map(_.getInt(0)).toSeq == Seq(3))
    // SQL surface
    assert(spark.sql(s"SELECT version, n_rows FROM lake_history('$lake')")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((3, 2L)))
  }

  test("per-commit column stats and blooms scan ONLY the commit's new files") {
    val root = tmp("vlake_newonly")
    val v1 = Seq((1L, 10.0, "p1"), (2L, 20.0, "p2")).toDF("id", "score", "part")
    VersionedLake.create(v1, s"$root/lake", "part",
      blooms = Seq(VersionedLake.BloomSpec("id")))
    // corrupt every v1 data file IN PLACE: if the append's stats or
    // bloom job touched any old file, it would fail on the garbage
    VersionedLake.manifestEntries(s"$root/lake", 1).foreach { e =>
      Files.write(Paths.get(e.path), "not parquet".getBytes("UTF-8"))
    }
    val v2 = Seq((3L, 30.0, "p1")).toDF("id", "score", "part")
    VersionedLake.append(v2, s"$root/lake", "part") // must not read v1 files
    val newEntries = VersionedLake.manifestEntries(s"$root/lake", 2)
      .filter(_.path.contains("/c2-"))
    assert(newEntries.nonEmpty &&
      newEntries.forall(e => e.colStats.contains("score") &&
        e.colBlooms.contains("id")))
    // prove the corruption was real: executing a read over v1 fails
    intercept[Throwable] {
      VersionedLake.read(spark, s"$root/lake", Some(1)).collect()
    }
  }

  test("first-commit OCC race: a rebased append keeps the creator's recorded props and bloom spec") {
    val root = tmp("vlake_specrace")
    val lake = s"$root/lake"
    // appender plans at v0 (empty lake, so its plan-time spec is empty)
    val plan = VersionedLake.planAppend(
      Seq((100L, "p1")).toDF("id", "part"), lake, "part")
    // ...a concurrent creator wins version 1 with the table's real spec
    VersionedLake.create(Seq((1L, "p1")).toDF("id", "part"), lake, "part",
      blooms = Seq(VersionedLake.BloomSpec("id")),
      props = Map("geometry" -> "g1"))
    // the rebased append must carry the CREATOR's spec forward, not
    // overwrite the current manifest with its own empty plan-time one
    assert(VersionedLake.commitPending(lake, plan) == 2)
    assert(VersionedLake.tableProps(lake) == Map("geometry" -> "g1"))
    assert(VersionedLake.tableBlooms(lake).map(_.column) == Seq("id"))
    VersionedLake.requireProps(lake, Map("geometry" -> "g1"))
    // and colBloom recording RESUMES for later commits
    VersionedLake.append(Seq((200L, "p1")).toDF("id", "part"), lake, "part")
    assert(VersionedLake.manifestEntries(lake, 3)
      .filter(_.path.contains("/c3-")).forall(_.colBlooms.contains("id")))
    assert(VersionedLake.read(spark, lake).count() == 3)
  }

  test("replay watermarks survive vacuum; the lake itself skips a replayed retraction") {
    val root = tmp("vlake_wm")
    val lake = s"$root/lake"
    VersionedLake.create(Seq((1L, "a", "p1"), (2L, "b", "p2"))
      .toDF("id", "name", "part"), lake, "part")
    VersionedLake.mergeUpsert(spark, lake,
      Seq((1L, "a", "p1", true)).toDF("id", "name", "part", "_deleted"),
      Seq("id"), "part", batchId = Some(7L), retractId = Some(5L))
    VersionedLake.append(Seq((3L, "c", "p2")).toDF("id", "name", "part"),
      lake, "part")
    assert(VersionedLake.committedBatchId(lake) == 7L)
    assert(VersionedLake.committedRetractId(lake) == 5L)
    // expire ALL history below current — the manifests that carried
    // the original #batchid/#retractid headers are deleted...
    VersionedLake.vacuum(lake, keepFrom = 3)
    // ...yet the watermarks hold: every commit re-states them
    assert(VersionedLake.committedBatchId(lake) == 7L)
    assert(VersionedLake.committedRetractId(lake) == 5L)
    // a replayed retraction (stale change rows) is skipped BY THE LAKE
    val v = VersionedLake.currentVersion(lake)
    VersionedLake.mergeUpsert(spark, lake,
      Seq((2L, "b", "p2", true)).toDF("id", "name", "part", "_deleted"),
      Seq("id"), "part", retractId = Some(5L))
    assert(VersionedLake.currentVersion(lake) == v)
    assert(VersionedLake.read(spark, lake).count() == 2)
    // a NEW retraction applies and advances the watermark
    VersionedLake.mergeUpsert(spark, lake,
      Seq((2L, "b", "p2", true)).toDF("id", "name", "part", "_deleted"),
      Seq("id"), "part", retractId = Some(6L))
    assert(VersionedLake.read(spark, lake).count() == 1)
    assert(VersionedLake.committedRetractId(lake) == 6L)
  }

  test("string zone maps: truncated envelopes contain every value; truncate-up arithmetic") {
    // unit pins on the truncation arithmetic first
    assert(VersionedLake.strTruncDown("a" * 40) == "a" * 32)
    assert(VersionedLake.strTruncDown("short") == "short")
    assert(VersionedLake.strTruncUp("short").contains("short"))
    assert(VersionedLake.strTruncUp("a" * 33).contains("a" * 31 + "b"))
    // the pre-surrogate codepoint U+D7FF increments PAST the surrogate
    // block to U+E000
    def cp(c: Int) = new String(Character.toChars(c))
    assert(VersionedLake.strTruncUp("x" * 31 + cp(0xD7FF) + "tail")
      .contains("x" * 31 + cp(0xE000)))
    // un-incrementable: every codepoint already U+10FFFF
    val top = new String(Array.fill(33)(0x10FFFF), 0, 33)
    assert(VersionedLake.strTruncUp(top).isEmpty)
    // byte-order comparison, not UTF-16 order: U+FFFD (3 UTF-8 bytes)
    // sorts BELOW U+10000 (4 bytes) even though Java compareTo says
    // otherwise (surrogate code units)
    assert(VersionedLake.utf8Compare(cp(0xFFFD), cp(0x10000)) < 0)

    // a lake whose string column exceeds the 32-codepoint width:
    // envelopes must still PROVABLY contain every value, and disjoint
    // long-string commits must still prune
    val root = tmp("vlake_strstats")
    val lake = s"$root/lake"
    def docs(prefix: String, n: Int) = (0 until n)
      .map(i => (i.toLong, prefix + ("x" * 40) + i, "p1"))
      .toDF("id", "body", "part")
    VersionedLake.create(docs("alpha-", 10).coalesce(1), lake, "part")
    VersionedLake.append(docs("omega-", 10).coalesce(1), lake, "part")
    val entries = VersionedLake.manifestEntries(lake, 2)
    assert(entries.size == 2)
    entries.foreach { e =>
      val (mn, mx) = e.strStats("body")
      assert(mn.codePointCount(0, mn.length) <= VersionedLake.StrStatsLen)
      assert(mx.codePointCount(0, mx.length) <= VersionedLake.StrStatsLen)
    }
    // containment: every recorded envelope bounds every value in its file
    val byFile = VersionedLake.read(spark, lake)
      .select(org.apache.spark.sql.functions.input_file_name().as("f"), col("body"))
      .collect().groupBy(r => r.getString(0)).map { case (f, rs) =>
        VersionedLake.normalizePath(f) -> rs.map(_.getString(1)).toSeq
      }
    entries.foreach { e =>
      val (mn, mx) = e.strStats("body")
      byFile(VersionedLake.normalizePath(e.path)).foreach { v =>
        assert(VersionedLake.utf8Compare(mn, v) <= 0, s"min $mn !<= $v")
        assert(VersionedLake.utf8Compare(mx, v) >= 0, s"max $mx !>= $v")
      }
    }
    // a probe on a LONG literal still prunes to the right commit's file
    val probe = "omega-" + ("x" * 40) + "3"
    val rr = VersionedLake.readRange(spark, lake, "body", probe, probe, None)
    assert(rr.inputFiles.length == 1)
    assert(rr.filter(col("body") === probe).count() == 1)
  }
}
