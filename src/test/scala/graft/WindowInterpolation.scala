package graft

import graft.operators.TimeSeries.GridParams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function formulation of grid interpolation: the independent
  * reference the grid walk (`TimeSeries.interpolateOnGrid`) is checked
  * against. It shares no code with the walk.
  *
  * union(observations, grid) → per-key window: prev/next observation via
  * last(ignoreNulls) over running frames in the forward and the reversed
  * ordering. Observations sort before grid points at equal timestamps
  * (the `_g` tiebreak), so an exact grid hit interpolates to the
  * observed value and LOCF picks the co-timed observation.
  */
object WindowInterpolation {

  def interpolateOnGrid(df: DataFrame, p: GridParams): DataFrame = {
    val obs = df.select(
      col(p.key).as("_k"),
      col(p.time).as("_t"),
      col(p.value).cast("double").as("_v"),
      col(p.status).cast("string").as("_s"),
      lit(0).as("_g"))

    val grid = df
      .groupBy(col(p.key).as("_k"))
      .agg(sequence(min(col(p.time)), max(col(p.time)), expr(s"INTERVAL ${p.step}")).as("_grid"))
      .select(col("_k"), explode(col("_grid")).as("_t"),
        lit(null).cast("double").as("_v"), lit(null).cast("string").as("_s"),
        lit(1).as("_g"))

    // _v, then _s, as final sort keys: duplicate (key, ts) observations
    // would otherwise make prev/next and LOCF nondeterministic.
    // asc_nulls_first matches the oracle's explicit NULLS FIRST.
    val base = Window.partitionBy(col("_k"))
      .orderBy(col("_t"), col("_g"), col("_v").asc_nulls_first, col("_s").asc_nulls_first)
    val wPrev = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // "next observation" = first non-null at-or-after the current row, as
    // a running frame over the reversed ordering
    val wNextRun = Window.partitionBy(col("_k"))
      .orderBy(col("_t").desc, col("_g").desc, col("_v").desc_nulls_last,
        col("_s").desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val obsTime = when(col("_v").isNotNull, col("_t"))
    val annotated = obs.unionByName(grid)
      .withColumn("_nv", last(col("_v"), ignoreNulls = true).over(wNextRun))
      .withColumn("_nt", last(obsTime, ignoreNulls = true).over(wNextRun))
      .withColumn("_pv", last(col("_v"), ignoreNulls = true).over(wPrev))
      .withColumn("_pt", last(obsTime, ignoreNulls = true).over(wPrev))
      .withColumn("_locf", last(col("_s"), ignoreNulls = true).over(wPrev))

    val interp = when(col("_pt") === col("_nt"), col("_pv"))
      .when(col("_nt").isNull, col("_pv"))
      .when(col("_pt").isNull, col("_nv"))
      .otherwise(
        col("_pv") + (col("_nv") - col("_pv")) *
          (unix_micros(col("_t")) - unix_micros(col("_pt"))) /
          (unix_micros(col("_nt")) - unix_micros(col("_pt"))))

    annotated
      .filter(col("_g") === 1)
      .select(
        col("_k").as(p.key),
        col("_t").as("time"),
        interp.as("temperature"),
        col("_locf").as("status"))
  }

  /** The flagship as the reference query spells it: interpolate, then
    * regroup per (key, grid instant) with min(status) / avg(temperature). */
  def flagship(df: DataFrame, p: GridParams): DataFrame =
    interpolateOnGrid(df, p)
      .groupBy(col(p.key), col("time"))
      .agg(
        min(col("status")).as("status"),
        graft.functions.Arith.r2(avg(col("temperature"))).as("temperature"))
}
