package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Whole-stage-codegen dot product over two array columns (float or double
  * elements, mixed allowed), accumulating in double in sequential element
  * order — bit-identical to a naive loop and to the `aggregate(zip_with(...))`
  * higher-order formulation it replaces.
  *
  * Why a custom Expression: Spark's higher-order functions
  * (`transform`/`zip_with`/`aggregate`) evaluate interpreted (no codegen),
  * allocate an intermediate array per row, and box per element. In pairwise
  * similarity joins the dot product runs once per *candidate pair* — the
  * single hottest loop in the engine — so it gets the tight primitive loop.
  * Preference order per the design rules: built-ins failed the perf bar,
  * Expression-with-doGenCode is the next rung (beats a Scala UDF: no
  * serialization boundary, stays inside the generated stage).
  *
  * Null handling: a null array yields null (nullSafeEval), and UNEQUAL
  * LENGTHS yield null — exactly what `aggregate(zip_with(...))` produces
  * (zip_with pads the shorter side with nulls, which poison the sum), so the
  * two formulations agree on ragged inputs too. Null *elements* are not
  * expected in embedding data and read as 0.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // Nullable even when children aren't: length mismatch produces null.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product expects array<float|double> inputs, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val xf = elemType(left) == FloatType
    val yf = elemType(right) == FloatType
    var sum = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      sum += xv * yv
      i += 1
    }
    sum
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getX = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val getY = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  double ${ev.value}Acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    ${ev.value}Acc += (double) $a.$getX($i) * (double) $b.$getY($i);
         |  }
         |  ${ev.value} = ${ev.value}Acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
