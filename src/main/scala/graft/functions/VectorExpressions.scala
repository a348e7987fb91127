package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the embedding hot path: a
  * sequential-fold dot product  ((0 + a₀b₀) + a₁b₁) + …  as ONE
  * codegen'd tight loop over ArrayData — no per-element boxing, no
  * lambda interpretation, no intermediate arrays.
  *
  * Why not alternatives:
  *  - `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — higher-order
  *    functions are interpreted (lambda per element, boxed Doubles,
  *    an allocated product array per row): ~10–30 µs per 64-dim pair,
  *    which dominates any all-pairs or top-k scoring join.
  *  - unrolling `element_at` chains — the resulting 100+-node Add tree
  *    makes Catalyst optimization and codegen cost explode at plan
  *    time.
  *  - a Scala UDF — pays SerDe (ArrayData → Seq[Double]) per call.
  *
  * The accumulation order is exactly the sequential left fold, so
  * results are bit-identical to the DuckDB oracle's list_reduce
  * formulation (and to the previous higher-order formulation).
  *
  * Input discipline: `checkInputDataTypes` REJECTS anything but
  * array<double> at analysis time — previously ArrayData.getDouble
  * reinterpreted 4-byte float slots as doubles and returned garbage
  * without error. The public entry points ([[VectorFunctions.vecDot]]
  * and the SQL builder in Dialect.functions) wrap arguments in a Cast
  * to array<double>, so castable inputs (array<float>, array<int>)
  * just work and the optimizer's SimplifyCasts erases the no-op cast
  * on the already-double hot paths. Null ELEMENTS propagate to a null
  * result (checked only when the child type says nulls are possible,
  * so the engine-internal normalized paths keep the check-free tight
  * loop).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires array<double> inputs, got ${l.sql} and ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private lazy val mayHaveNullElements: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  })

  override def nullable: Boolean = super.nullable || mayHaveNullElements

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    if (mayHaveNullElements) {
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getDouble(i) * y.getDouble(i); i += 1
      }
    } else {
      while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (mayHaveNullElements)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Cast to array<double> — erased by the SimplifyCasts optimizer rule
    * when the input already is one (including the containsNull=false →
    * true widening, so non-null inputs keep the check-free loop), an
    * analysis error when the input can't cast. Must not inspect the
    * child's dataType: builders run on still-unresolved expressions. */
  private[graft] def asDoubleArray(e: Expression): Expression =
    Cast(e, ArrayType(DoubleType, containsNull = true))

  /** Column API for VecDot: sequential-fold dot product of two numeric
    * array columns (cast to array<double> first). */
  def vecDot(a: Column, b: Column): Column =
    GraftShim.column(VecDot(
      asDoubleArray(GraftShim.expression(a)),
      asDoubleArray(GraftShim.expression(b))))
}
