package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{FunctionRegistryBase, SimpleFunctionRegistry, SimpleTableFunctionRegistry}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, WriteJobStatsTracker}

/** Minimal bridge to Spark internals that are `private[sql]` in Spark 4:
  * Column ↔ catalyst Expression conversion
  * (org.apache.spark.sql.classic.ExpressionUtils), the extension
  * builders, session cloning, and the file writer's stats-tracker
  * hook. This is the standard third-party-library pattern for
  * registering custom native expressions and rules from outside Spark.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Apply `inject` to an ALREADY-BUILT session — what
    * `spark.sql.extensions` does at session construction, for a session
    * whose extensions are fixed (e.g. one handed over by a driver).
    * Rules and strategies go to the session's experimental lists,
    * replacing any earlier instance of the same class (a cloned session
    * inherits its parent's instances, which read the PARENT's conf);
    * functions and table functions are written into the session's
    * registries. Idempotent. */
  def applyExtensions(spark: SparkSession,
      inject: SparkSessionExtensions => Unit): Unit = {
    val ext = new SparkSessionExtensions
    inject(ext)
    def replace[T](have: Seq[T], add: Seq[T]): Seq[T] =
      have.filterNot(h => add.exists(_.getClass == h.getClass)) ++ add
    val x = spark.experimental
    x.extraOptimizations = replace(x.extraOptimizations, ext.buildOptimizerRules(spark))
    x.extraStrategies = replace(x.extraStrategies, ext.buildPlannerStrategies(spark))
    // register only what the session does not already hold under the
    // same builder (a clone inherits its parent's): re-registering
    // would replace it and log a warning per function
    def merge[T](from: FunctionRegistryBase[T], into: FunctionRegistryBase[T]): Unit =
      from.listFunction().foreach { id =>
        val builder = from.lookupFunctionBuilder(id).get
        if (!into.lookupFunctionBuilder(id).contains(builder))
          into.registerFunction(id, from.lookupFunction(id).get, builder)
      }
    merge(ext.registerFunctions(new SimpleFunctionRegistry),
      spark.sessionState.functionRegistry)
    merge(ext.registerTableFunctions(new SimpleTableFunctionRegistry),
      spark.sessionState.tableFunctionRegistry)
  }

  /** The function builder `spark.udf.register(name, f)` would install,
    * as a value a function list can carry: the same named ScalaUDF /
    * ScalaAggregator expression, so plans and column names match. */
  def udfBuilder(name: String,
      f: expressions.UserDefinedFunction): Seq[Expression] => Expression =
    f.withName(name) match {
      case a: expressions.UserDefinedAggregator[_, _, _] =>
        es => execution.aggregate.ScalaAggregator(a, es)
      case u: expressions.SparkUserDefinedFunction =>
        es => {
          require(es.length == u.inputEncoders.size,
            s"$name requires ${u.inputEncoders.size} arguments, got ${es.length}")
          classic.UserDefinedFunctionUtils.toScalaUDF(u, es)
        }
    }

  /** A child session sharing `spark`'s context, cache and catalog that
    * starts from a COPY of its session state: runtime confs, temp views,
    * registered functions and experimental rules. Unlike `newSession()`
    * it keeps confs the caller set at run time. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The analyzed logical plan of a DataFrame — what a table-function
    * builder returns so the composed outer query analyzes against the
    * operator's real output schema. */
  def analyzedPlan(df: Dataset[Row]): LogicalPlan = df.queryExecution.analyzed

  /** Write `df` as parquet under `path`, partitioned by
    * `partitionColumn`, the way `InsertIntoHadoopFsRelationCommand`
    * runs `df.write.partitionBy(partitionColumn).parquet(path)`: one
    * `FileFormatWriter.write` inside a new SQL execution, with Spark's
    * `BasicWriteJobStatsTracker` and `tracker` beside it. Every task
    * feeds `tracker` its partitions, files and rows as it writes them,
    * and the tracker's `processStats` has run on the driver when this
    * returns. */
  def writeParquet(df: DataFrame, path: String, partitionColumn: String,
      tracker: WriteJobStatsTracker): Unit = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    val conf = spark.sessionState.conf
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan
      val output = plan.output
      util.SchemaUtils.checkColumnNameDuplication(output.map(_.name),
        conf.caseSensitiveAnalysis)
      val partitionColumns = output.filter(_.name == partitionColumn)
      require(partitionColumns.size == 1,
        s"partition column '$partitionColumn' not found in [${output.map(_.name).mkString(", ")}]")
      val hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
      val committer = org.apache.spark.internal.io.FileCommitProtocol.instantiate(
        conf.fileCommitProtocolClass, jobId = java.util.UUID.randomUUID().toString,
        outputPath = path)
      FileFormatWriter.write(spark, plan,
        new execution.datasources.parquet.ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(path, Map.empty, output), hadoopConf,
        partitionColumns, bucketSpec = None,
        statsTrackers = Seq(new BasicWriteJobStatsTracker(
          new org.apache.spark.util.SerializableConfiguration(hadoopConf),
          BasicWriteJobStatsTracker.metrics), tracker),
        options = Map.empty)
    }
    ()
  }
}
