package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Lake maintenance operators: small-file compaction and
  * schema-evolution reads — the two chores every long-lived
  * partitioned lake accumulates (streaming sinks and incremental
  * exports write a file per micro-batch per partition; producers add
  * columns over time).
  */
object LakeOps {

  /** Rewrite a partitioned parquet lake with consolidated files:
    * `filesPerPartition` output files per partition directory (further
    * split only by `maxRecordsPerFile`, the size backstop). Layout
    * changes; CONTENT must not — the compaction gate hash-checks the
    * compacted lake's aggregate against the pre-compaction oracle.
    *
    * Scale shape: one shuffle keyed on (partition columns [, salt]).
    * With `filesPerPartition` = 1 each partition directory is written
    * by one task — right for the common many-tiny-files case; raise it
    * for hot partitions so their write parallelism (and file count)
    * scales, with the salt drawn from a hash of the row so the split
    * is even and deterministic. Compacts to a NEW root: the swap is
    * the caller's atomic rename/repoint, never an in-place overwrite
    * that readers could observe half-done.
    */
  def compact(spark: SparkSession, src: String, dst: String,
      partitionCols: Seq[String], filesPerPartition: Int = 1,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    val df = spark.read.parquet(src)
    val repartitioned =
      if (filesPerPartition == 1) df.repartition(partitionCols.map(col): _*)
      else {
        // explicit numPartitions: AQE would otherwise coalesce the
        // salted shuffle into fewer tasks and collapse the salt's file
        // split (files per partition = distinct TASKS holding it)
        val keys = partitionCols.map(col) :+
          pmod(hash(struct(df.columns.map(col): _*)), lit(filesPerPartition))
        df.repartition(spark.sessionState.conf.numShufflePartitions, keys: _*)
      }
    repartitioned
      .write
      .partitionBy(partitionCols: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(dst)
  }

  /** Leaf parquet file count per partition directory — the
    * before/after measure of [[compact]]. */
  def parquetFileCount(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1
      else 0
    walk(new java.io.File(dir))
  }

  /** Morton (Z-order) interleave of two quantized dimensions: bit i of
    * `a` lands at position 2i, bit i of `b` at 2i+1. All shifts are
    * literal, so the whole value is one codegen'd arithmetic
    * expression. `bits` ≤ 31 keeps the result in int64. */
  private[sources] def zValue(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Z-ORDER CLUSTERING rewrite: lay the lake out along the Morton
    * curve of TWO filter dimensions, so a box predicate on either or
    * both dims touches few files instead of all of them. Linear
    * layouts can only localize one column; the Z-curve keeps rows
    * close in BOTH dims close in file order, and parquet min/max
    * footer stats then skip everything outside the box — the
    * data-layout half of pruning, complementing partition dirs (which
    * would explode at per-key granularity) and bucketing (which
    * co-locates joins, not range scans).
    *
    * Shape: two-row min/max collect (quantization bounds), then ONE
    * range shuffle on the z-value + per-task sort + write. Content is
    * untouched — the gate hash-checks the clustered lake's aggregate
    * against the source oracle; LakeOpsSpec measures the actual
    * file-skipping win vs an insertion-ordered layout.
    */
  def zorderWrite(df: DataFrame, dim1: String, dim2: String, dst: String,
      numFiles: Int, bits: Int = 16): Unit = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val r = df.agg(
      min(col(dim1)).cast("double"), max(col(dim1)).cast("double"),
      min(col(dim2)).cast("double"), max(col(dim2)).cast("double")).head()
    val top = (1L << bits) - 1
    def quantized(c: String, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else floor((col(c).cast("double") - lit(lo)) * top / (hi - lo)).cast("long")
    val z = zValue(
      quantized(dim1, r.getDouble(0), r.getDouble(1)),
      quantized(dim2, r.getDouble(2), r.getDouble(3)), bits)
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(dst)
  }

  /** Copy-on-write MERGE (upsert + delete) into a partitioned parquet
    * lake: rows in `changes` replace the lake row with the same key
    * (or insert when no such row exists); change rows whose
    * `deleteCol` is true remove the matching row. Only the partitions
    * the change-set touches are rewritten — everything else is never
    * read, never written, byte-identical after the merge (the
    * `LakeOpsSpec` pin). The plain-parquet analog of a lakehouse
    * MERGE INTO with partition-level copy-on-write.
    *
    * Contract: a change row targets the row with equal `keyCols`
    * INSIDE the partition the change row carries — keys must not move
    * between partitions (the universal partitioned-CoW contract; a
    * moving key is a delete in one partition plus an insert in the
    * other, which this API expresses directly).
    *
    * Scale shape, per merge:
    *  - touched-partition discovery is `changes.select(part).distinct`
    *    — collected, but bounded by the number of TOUCHED PARTITIONS
    *    (metadata-sized), never by rows;
    *  - the lake read is pruned to touched partitions by a literal
    *    IN filter (partition pruning at planning — untouched
    *    directories are not even listed);
    *  - survivors = one LEFT ANTI join of touched-partition rows
    *    against change keys, shuffle bounded by touched data; AQE
    *    broadcasts the key side when the change-set is small (the
    *    common case);
    *  - the merged result stages to a scratch dir, then lands via
    *    dynamic partition overwrite (parquet refuses to overwrite an
    *    input path; on an object store the same two-phase shape is
    *    write-new-files + pointer swap). Both passes move touched
    *    partitions only.
    * Dynamic overwrite only replaces partitions PRESENT in the
    * output, so a partition whose every row was deleted would
    * otherwise survive untouched — those are enumerated (metadata
    * diff) and their directories dropped explicitly.
    */
  def mergeUpsert(spark: SparkSession, lakeDir: String, changes: DataFrame,
      keyCols: Seq[String], partitionCol: String,
      deleteCol: String = "_deleted"): Unit = {
    require(keyCols.nonEmpty, "mergeUpsert needs at least one key column")
    val lake = spark.read.parquet(lakeDir)
    // canonical STRING forms throughout: the lake read may infer the
    // partition column as date/int from directory names while the
    // change-set carries strings — set algebra on mixed types would
    // silently miss, and directory names ARE the string forms
    val touched = changes.select(col(partitionCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    if (touched.isEmpty) return
    // filter with bare attribute vs string literals (Catalyst coerces
    // the LITERAL side) so partition pruning still sees the raw column
    val existing = lake.filter(col(partitionCol).isin(touched: _*))
    val changeKeys = changes.select(keyCols.map(col): _*).distinct()
    val upserts = changes.filter(!col(deleteCol)).drop(deleteCol)
      .select(lake.columns.map(col): _*)
    val merged = existing.join(changeKeys, keyCols, "left_anti")
      .unionByName(upserts)

    val stagingRoot = java.nio.file.Files.createTempDirectory("graft_merge").toString
    val staging = s"$stagingRoot/staged"
    try {
      merged.write.partitionBy(partitionCol).parquet(staging)
      // staged partition inventory from the directory listing (free
      // metadata; also survives the all-rows-deleted case, where an
      // empty staged dataset has no schema to read back)
      val stagedPartitions = Option(new java.io.File(staging).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith(partitionCol + "="))
        .map(_.getName.substring(partitionCol.length + 1)).toSet
      if (stagedPartitions.nonEmpty) {
        // per-write option: the session conf stays untouched for
        // queries running concurrently on the same session
        spark.read.parquet(staging)
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionCol).parquet(lakeDir)
      }
      // partitions the change-set emptied entirely: dynamic overwrite
      // never saw them, so drop their directories (metadata-only).
      // The staged inventory holds DIRECTORY names, which Spark writes
      // Hive-escaped (%-encoding of special chars, the
      // __HIVE_DEFAULT_PARTITION__ sentinel for null) — diff and
      // delete in that escaped namespace, or a special-char partition
      // never matches and its stale directory survives
      val escapedTouched = touched.map {
        case null => ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        case v => ExternalCatalogUtils.escapePathName(v)
      }
      escapedTouched.filterNot(stagedPartitions.contains).foreach { esc =>
        val dir = new java.io.File(s"$lakeDir/$partitionCol=$esc")
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        if (dir.exists()) rm(dir)
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(stagingRoot))
    }
  }

  /** Schema-evolution read: union the lake's batches by COLUMN NAME,
    * with columns absent from older batches read as nulls —
    * `mergeSchema` over the batch-partitioned layout. The reader is
    * where evolution must live at 100 TB: rewriting history to
    * back-fill a new column is a full-lake write, while merge-on-read
    * costs one footer per file at planning time.
    */
  def readEvolved(spark: SparkSession, lakeDir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(lakeDir)
}
