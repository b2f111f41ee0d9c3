package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd dot product over two float/double array columns —
  * the fused form of `aggregate(zip_with(a, b, (x, y) => double(x) *
  * double(y)), 0.0, (acc, v) => acc + v)` (Similarity.dotHof), which
  * [[graft.operators.Similarity.dot]] calls directly. Every engine
  * caller passes float arrays: embedding slices and Pq's literal
  * sub-centroids.
  *
  * Exact HOF semantics (DotProductSpec pins them):
  *  - each element widened to double before the multiply, ascending-
  *    index accumulation (bit-identical result);
  *  - a NULL element anywhere → NULL (zip_with's null product poisons
  *    the HOF fold);
  *  - length mismatch → NULL (zip_with pads the short side with nulls).
  * Any input other than ARRAY<FLOAT|DOUBLE> fails analysis.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).map(_.dataType).find {
      case ArrayType(FloatType | DoubleType, _) => false
      case _ => true
    } match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(other) => TypeCheckResult.TypeCheckFailure(
        s"dot_product requires ARRAY<FLOAT> or ARRAY<DOUBLE> inputs, got ${other.catalogString}")
    }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    val (af, bf) = (isFloat(left), isFloat(right))
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def get(arr: String, e: Expression, idx: String): String =
        if (isFloat(e)) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += (${get(a, left, i)}) * (${get(b, right, i)});
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

object DotProduct {
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
