package graft

import graft.sources.VersionedLake
import graft.sources.VersionedLake.{BloomSpec, Entry, FileBloom}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Read-back formulation of a commit's per-file manifest metadata: the
  * independent reference the lake's in-write statistics
  * (`VersionedLake.writeCommitFiles`) are checked against. It shares no
  * statistics code with the writer.
  *
  * Given committed data files, it opens every parquet footer for the
  * row count, reads the files back with partition discovery, and runs
  * one `groupBy(input_file_name())` aggregate for every column's
  * min/max (numerics cast to double, dates as epoch days, timestamps as
  * epoch micros; a NaN min or max records no bounds), the string
  * columns' (StrStatsLen + 1)-codepoint min/max prefixes (truncated
  * down and up on the driver; an un-incrementable max records nothing)
  * and null counts, then one aggregate per Bloom column packing the
  * `Sketch.bloomBuckets` of its non-null keys cast to string. The
  * partition column's type is INFERRED from the directory names, so a
  * string partition value that looks like a date or a number records a
  * numeric zone map here (`inferredType` says which).
  */
object ReadBackStats {

  /** The reference entries of `files` (absolute paths under
    * `<lakeDir>/data`), in the order given, and the partition column's
    * inferred type. */
  def entries(spark: SparkSession, lakeDir: String, partitionCol: String,
      files: Seq[String], blooms: Seq[BloomSpec]): (Seq[Entry], Option[DataType]) = {
    if (files.isEmpty) return (Nil, None)
    val src = spark.read.option("basePath", s"$lakeDir/data").parquet(files: _*)
    val encoded: Seq[(String, Column)] = src.schema.fields.toSeq.flatMap { f =>
      (f.dataType match {
        case _: NumericType => Some(col(f.name).cast("double"))
        case DateType => Some(datediff(col(f.name), lit("1970-01-01")).cast("double"))
        case TimestampType | TimestampNTZType =>
          Some(unix_micros(col(f.name).cast("timestamp")).cast("double"))
        case _ => None
      }).map(f.name -> _)
    }
    val strCols = src.schema.fields.toSeq.collect {
      case f if f.dataType == StringType => f.name
    }
    val allCols = src.schema.fieldNames.toSeq
    val width = VersionedLake.StrStatsLen + 1
    val aggs: Seq[Column] =
      encoded.zipWithIndex.flatMap { case ((_, e), i) =>
        Seq(min(e).as(s"_n$i"), max(e).as(s"_x$i"))
      } ++ strCols.zipWithIndex.flatMap { case (n, i) =>
        Seq(min(substring(col(n), 1, width)).as(s"_smn$i"),
          max(substring(col(n), 1, width)).as(s"_smx$i"))
      } ++ allCols.zipWithIndex.map { case (n, i) =>
        sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"_nc$i")
      }
    val byPath = src.groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*).collect().map { r =>
        def d(n: String): Option[Double] = {
          val i = r.fieldIndex(n)
          if (r.isNullAt(i)) None
          else { val x = r.getDouble(i); if (x.isNaN) None else Some(x) }
        }
        def st(n: String): Option[String] = {
          val i = r.fieldIndex(n)
          if (r.isNullAt(i)) None else Some(r.getString(i))
        }
        val zones = encoded.zipWithIndex.flatMap { case ((n, _), i) =>
          for { mn <- d(s"_n$i"); mx <- d(s"_x$i") } yield n -> ((mn, mx))
        }.toMap
        val strs = strCols.zipWithIndex.flatMap { case (n, i) =>
          for {
            mn <- st(s"_smn$i"); mxRaw <- st(s"_smx$i")
            mx <- VersionedLake.strTruncUp(mxRaw)
          } yield n -> ((VersionedLake.strTruncDown(mn), mx))
        }.toMap
        val nulls = allCols.zipWithIndex.map { case (n, i) =>
          n -> r.getLong(r.fieldIndex(s"_nc$i"))
        }.toMap
        VersionedLake.normalizePath(r.getString(r.fieldIndex("f"))) -> ((zones, strs, nulls))
      }.toMap
    val words: Map[String, Map[String, Array[Long]]] = blooms.map { spec =>
      spec.column -> src.filter(col(spec.column).isNotNull)
        .select(input_file_name().as("f"),
          explode(graft.operators.Sketch.bloomBuckets(
            col(spec.column).cast("string"), spec.k, spec.m)).as("bucket"))
        .groupBy(col("f"), shiftright(col("bucket"), 6).as("word"))
        .agg(expr("bit_or(shiftleft(1L, int(bucket % 64)))").as("bits"))
        .collect()
        .groupBy(r => VersionedLake.normalizePath(r.getString(0)))
        .map { case (f, rows) =>
          val w = new Array[Long](spec.m / 64)
          rows.foreach(r => w(r.getLong(1).toInt) = r.getLong(2))
          f -> w
        }
    }.toMap
    val out = files.map { path =>
      val dir = new java.io.File(path).getParentFile.getName
      val base = Entry(dir.substring(dir.indexOf('=') + 1), path, footerRows(path))
      val withStats = byPath.get(VersionedLake.normalizePath(path)).fold(base) {
        case (zones, strs, nulls) =>
          base.copy(colStats = zones, strStats = strs, nullCounts = nulls)
      }
      withStats.copy(colBlooms = blooms.flatMap { spec =>
        words(spec.column).get(VersionedLake.normalizePath(path))
          .map(w => spec.column -> FileBloom(spec.k, spec.m, w))
      }.toMap)
    }
    (out, src.schema.find(_.name == partitionCol).map(_.dataType))
  }

  private def footerRows(path: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }
}
