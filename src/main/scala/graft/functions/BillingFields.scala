package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The fields of a billing line after field 0 (the date), in line order,
  * each stripped of leading and trailing ASCII spaces, empty fields
  * dropped — FIXTURES.md §1–2. One codegen'd pass over the line's UTF-8
  * bytes replaces the composed
  * `filter(transform(slice(split(value, ","), 2, n), trim), length > 0)`,
  * whose lambdas Spark evaluates interpreted (`ArrayTransform`,
  * `ArrayFilter` and `LambdaFunction` are `CodegenFallback`) and which
  * therefore also kept the parse projection out of whole-stage codegen.
  *
  * The strip rule is Spark's `trim`: only `' '` (0x20), so tabs and
  * other whitespace stay part of the field. Scanning bytes is safe for
  * any UTF-8 text: no byte of a multibyte sequence is below 0x80, so
  * `','` and `' '` only ever match themselves.
  *
  * Equality with the composed form is pinned by BillingFieldsSpec.
  */
case class BillingFields(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"billing_fields requires a string input, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    BillingFields.fields(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BillingFields.fields($c)")

  override protected def withNewChildInternal(c: Expression): BillingFields =
    copy(child = c)

  override def prettyName: String = "billing_fields"
}

object BillingFields {

  private final val Comma: Byte = ','
  private final val Space: Byte = ' '

  /** Fields 1.. of `line`; the results share one byte array. */
  def fields(line: UTF8String): ArrayData = {
    val b = line.getBytes
    val n = b.length
    var out = new Array[Any](8)
    var size = 0
    var start = 0
    while (start < n && b(start) != Comma) start += 1
    // `start` is at the comma before the next field, or at n
    while (start < n) {
      var from = start + 1
      var end = from
      while (end < n && b(end) != Comma) end += 1
      var to = end
      while (from < to && b(from) == Space) from += 1
      while (to > from && b(to - 1) == Space) to -= 1
      if (to > from) {
        if (size == out.length) out = Array.copyOf(out, size * 2)
        out(size) = UTF8String.fromBytes(b, from, to - from)
        size += 1
      }
      start = end
    }
    new GenericArrayData(Array.copyOf(out, size))
  }

  def apply(line: Column): Column =
    ColumnBridge.column(BillingFields(ColumnBridge.expression(line)))
}
