package graft

import graft.operators.TimeSeries
import graft.operators.TimeSeries.GridParams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Window-at-a-time formulation of the export: the independent reference
  * the one-pass writer (`Exporter.backfillOnePass`) is checked against.
  * It shares no code with the writer.
  *
  * Each [start, end) window runs on its own: the events are filtered to
  * it through the timestamp cast, the flagship is computed over them, and
  * the result is keyed by the window's start with `date_format` and
  * written as one dynamic-partition overwrite. The key is at minute
  * resolution when the shortest non-empty window of the call is at least
  * a minute, at second resolution otherwise. It writes no export
  * manifest.
  */
object SerialExport {

  def write(events: DataFrame, p: GridParams, outDir: String,
      windows: Seq[(String, String)]): Unit = {
    val spark = events.sparkSession
    import spark.implicits._
    val (s, e) = (col("s").cast("timestamp"), col("e").cast("timestamp"))
    val shortest = windows.toDF("s", "e")
      .select(min(when(e > s, unix_micros(e) - unix_micros(s)))).head()
    val pattern =
      if (shortest.isNullAt(0) || shortest.getLong(0) >= 60000000L) "yyyy-MM-dd'T'HH-mm"
      else "yyyy-MM-dd'T'HH-mm-ss"
    windows.foreach { case (start, end) =>
      TimeSeries.flagship(events.filter(
        col(p.time) >= lit(start).cast("timestamp") && col(p.time) < lit(end).cast("timestamp")), p)
        .withColumn("partition_key", date_format(lit(start).cast("timestamp"), pattern))
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("partition_key")
        .parquet(outDir)
    }
  }
}
