package org.apache.spark.sql

/** Test access to `private[sql]` session internals. */
object GraftTestShim {

  /** Engine parts: optimizer-rule and planner-strategy class names under
    * the `graft.` package, and every function and table-function name. */
  type Engine = (Set[String], Set[String], Set[String], Set[String])

  private def graftClasses(xs: Seq[AnyRef]): Set[String] =
    xs.map(_.getClass.getName).filter(_.startsWith("graft.")).toSet

  /** The engine of a NEW session built the way `spark.sql.extensions=
    * <className>` builds one: the class is loaded by name and applied to
    * the session's extensions, and Spark's session-state builder adds
    * their rules, strategies, functions and table functions to the
    * built-ins. The session shares `spark`'s context and shared state,
    * as `newSession()` does; its constructor is private, hence the
    * reflection. */
  def extensionEngine(spark: SparkSession, className: String): Engine = {
    val ext = new SparkSessionExtensions
    Class.forName(className).getConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit](ext)
    val parent = spark.asInstanceOf[classic.SparkSession]
    val ctor = classOf[classic.SparkSession].getDeclaredConstructors
      .find(_.getParameterCount == 6).get
    val session = ctor.newInstance(parent.sparkContext, Some(parent.sharedState),
      None, ext, Map.empty[String, String], Map.empty[String, String])
    sessionEngine(session.asInstanceOf[SparkSession])
  }

  /** The engine a built session actually plans and resolves with. */
  def sessionEngine(spark: SparkSession): Engine = {
    val st = spark.sessionState
    (graftClasses(st.optimizer.batches.flatMap(_.rules)),
      graftClasses(st.planner.strategies),
      st.functionRegistry.listFunction().map(_.funcName).toSet,
      st.tableFunctionRegistry.listFunction().map(_.funcName).toSet)
  }
}
