package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated testdata tables (TESTDATA.md).
  * One parquet file per table under the scale-factor directory.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet's `ts` physical type has varied across driver-generated
    * datasets: TIMESTAMP(NANOS) (read as long via the legacy nanosAsLong
    * conf the installed engine sets — graft.plans.GraftExtensions.Confs —
    * truncated to micros — DuckDB's TIMESTAMP_NS → TIMESTAMP truncation), or plain
    * TIMESTAMP(MICROS) without UTC adjustment (read as TIMESTAMP_NTZ).
    * Normalize every variant to session-TZ TimestampType (session TZ is
    * pinned to UTC by every entrypoint, so the NTZ cast is value-preserving
    * and matches DuckDB reading the same file).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = apply(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
