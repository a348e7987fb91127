package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark plan builder over a scale-factor
  * directory plus (when SQL-expressible) the DuckDB oracle the driver
  * hash-compares against. Column names and row order must match between
  * the two (total ORDER BY, identical aliases, round(_, 2) on floats).
  */
final case class QDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

object Registry {
  /** Every gate, each running on its own session
    * ([[GraftSession.isolated]]) so its plan and result do not depend
    * on which gates ran before it. */
  def all: Seq[QDef] = (
    queries.TimeSeriesQueries.defs ++
      queries.RelationalQueries.defs ++
      queries.CepQueries.defs ++
      queries.StreamingQueries.defs ++
      queries.ExportQueries.defs ++
      queries.DialectQueries.defs ++
      queries.TextQueries.defs ++
      queries.DedupQueries.defs ++
      queries.SimilarityQueries.defs ++
      queries.TemporalQueries.defs ++
      queries.BucketQueries.defs ++
      queries.SketchQueries.defs ++
      queries.SurfaceQueries.defs
  ).map(q => q.copy(fn = (spark, dir) => q.fn(GraftSession.isolated(spark), dir)))

  def byName(name: String): QDef = all.find(_.name == name).get
}
