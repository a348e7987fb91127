package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType

/** Execution-time driver-side effects for SQL maintenance table
  * functions (`lake_compact`, `lake_vacuum`, `lake_clean_orphans`,
  * `retention_drop`).
  *
  * A table-function BUILDER runs while the SQL is being ANALYZED, so a
  * side effect inside it fires on `EXPLAIN`, on a formatted-plan dump,
  * or on an outer query that subsequently fails analysis — SQL text
  * that mutates on parse. At fleet scale plans get inspected
  * routinely; a retention drop must not run because someone EXPLAINed
  * it. This node splits the two phases the way Spark's own commands
  * do: the builder declares only the receipt SCHEMA; the operation
  * runs on the driver when the plan first EXECUTES (collect, write,
  * show — anything that forces the physical plan).
  *
  * One run per STATEMENT: the raw receipt is memoized on the LOGICAL
  * leaf, not the physical node, because every action on the same
  * Dataset plans a fresh QueryExecution — show() wraps the plan in a
  * Limit, count() in an Aggregate — each with its own exec node. All
  * of those derived plans share this one leaf instance, so a second
  * show()/count()/write on the same Dataset reuses the receipt instead
  * of committing the maintenance operation again; building the SQL
  * again is a new statement (a new leaf) and runs the operation again —
  * exactly a command's semantics. The thunk runs ON THE DRIVER
  * (maintenance ops list/delete files and launch their own jobs), then
  * the receipt rows ship as a 1-partition RDD.
  */
case class DeferredEffectPlan(output: Seq[Attribute],
    thunk: () => Seq[Seq[Any]]) extends LeafNode {
  // receipt-sized by construction; never worth a broadcast decision
  override def computeStats(): Statistics = Statistics(sizeInBytes = 64)
  /** The effect's raw rows, run at most once per statement (per leaf
    * instance — optimizer copies of DERIVED plans keep leaf instances,
    * so limit/aggregate wrappers from later actions all land here). */
  lazy val result: Seq[Seq[Any]] = thunk()
}

case class DeferredEffectExec(output: Seq[Attribute],
    thunk: () => Seq[Seq[Any]]) extends LeafExecNode {
  private lazy val receipt: Array[InternalRow] = {
    val conv = output.map(a =>
      CatalystTypeConverters.createToCatalystConverter(a.dataType))
    val proj = UnsafeProjection.create(output.map(_.dataType).toArray)
    thunk().map { vs =>
      require(vs.length == output.length,
        s"deferred effect returned ${vs.length} values for ${output.length} columns")
      proj(InternalRow.fromSeq(vs.lazyZip(conv).map((v, c) => c(v))))
        .copy(): InternalRow
    }.toArray
  }
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(receipt.toIndexedSeq, 1)
  override def executeCollect(): Array[InternalRow] = receipt
}

object DeferredEffect {

  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      // hand the exec node the LEAF's memoized result, not the raw
      // thunk: fresh exec nodes from later actions on the same Dataset
      // must reuse the receipt, not re-run the side effect
      case p @ DeferredEffectPlan(out, _) =>
        DeferredEffectExec(out, () => p.result) :: Nil
      case _ => Nil
    }
  }

  /** A receipt-shaped leaf: `schema` now, `thunk` at execution. */
  def plan(schema: StructType)(thunk: () => Seq[Seq[Any]]): LogicalPlan =
    DeferredEffectPlan(schema.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)()).toSeq, thunk)
}
