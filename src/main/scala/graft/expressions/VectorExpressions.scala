package graft.expressions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the one hot path where composed
  * built-ins measurably fall short: per-pair vector dot products.
  *
  * The HOF formulation `aggregate(zip_with(a, b, _*_), 0.0, _+_)` does
  * not participate in whole-stage codegen (HigherOrderFunction is
  * interpreted), costing ~5× on similarity joins that evaluate millions
  * of pairs (measured: dedup_embedding 11.5s → ~2s). This expression
  * generates a tight primitive loop over the two ArrayData buffers —
  * same left-to-right fold order as both the HOF version and DuckDB's
  * list_dot_product, so oracle parity is bit-exact.
  *
  * One of exactly THREE custom Catalyst pieces in the engine (the
  * others are [[MinhashSig]] and [[DistinctShingles]]): everything
  * else is expressible as codegen-friendly built-ins (SURVEY §4/§7.4
  * stance); here composition works but is profiling-proven slow,
  * which is the stated bar for dropping down a level. Callers build
  * it as a typed column with [[VectorExpressions.vecDot]].
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == ArrayType(DoubleType, containsNull = false) ||
      left.dataType == ArrayType(DoubleType, containsNull = true)) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"expects array<double>, got ${left.dataType}")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecDot = copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** `VecDot(a, b)` as a typed column: the native per-pair dot product
    * (its optimized plan prints `vecdot(a, b)`). */
  def vecDot(a: Column, b: Column): Column = GraftColumns.column(
    VecDot(GraftColumns.expression(a), GraftColumns.expression(b)))
}
