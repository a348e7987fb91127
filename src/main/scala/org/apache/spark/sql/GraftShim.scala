package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{FunctionRegistryBase, SimpleFunctionRegistry, SimpleTableFunctionRegistry}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge to Spark internals that are `private[sql]` in Spark 4:
  * Column ↔ catalyst Expression conversion
  * (org.apache.spark.sql.classic.ExpressionUtils), the extension
  * builders, and session cloning. This is the standard third-party-
  * library pattern for registering custom native expressions and
  * rules from outside Spark.
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
}
