package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The seeded draws behind `sources.DataGen`, one codegen'd call per
  * row. Each routine repeats, bit for bit, the column-expression chain
  * it replaced: Spark's `xxhash64` (seed 42, then `XXH64.hashLong` per
  * long and `XXH64.hashUnsafeBytes` per string, in argument order),
  * `pmod`, 1-based `element_at`, `array_distinct`, `date_add` rendered
  * as non-padded `y-M-d`, and `concat_ws`'s null skipping, under ANSI
  * mode (Spark 4's default, kept by every session of this project),
  * where `element_at` never yields NULL. The chains drew through
  * `transform(sequence(…), i => …)` lambdas, which Spark evaluates
  * interpreted and which kept the whole projection out of whole-stage
  * codegen. Equality with the chains is pinned by SeededDrawSpec.
  */
object SeededDraw {

  /** `xxhash64`'s default seed. */
  private final val HashSeed = 42L
  private val DayTag = UTF8String.fromString("day")
  private val SizeTag = UTF8String.fromString("size")
  private val LenTag = UTF8String.fromString("len")
  private val MutTag = UTF8String.fromString("mut")
  private val SubTag = UTF8String.fromString("sub")
  private val TokTag = UTF8String.fromString("tok")

  /** `date_add(2015-01-01, d)` as `y-M-d` text, d in [0, 365). */
  private val DayText: Array[Array[Byte]] = Array.tabulate(365) { d =>
    val t = java.time.LocalDate.of(2015, 1, 1).plusDays(d)
    s"${t.getYear}-${t.getMonthValue}-${t.getDayOfMonth}".getBytes(UTF_8)
  }

  /** Spark's `pmod` on longs. */
  private def pmod(a: Long, n: Long): Long = {
    val r = a % n
    if (r < 0) (r + n) % n else r
  }

  /** The tail `…, tag, seed)` of an `xxhash64` chain whose head is `h`. */
  private def tagged(h: Long, tag: UTF8String, seed: Long): Long =
    XXH64.hashLong(seed, XXH64.hashUTF8String(tag, h))

  /** Canonical vocabulary indices of basket `id`'s items: `size` uniform
    * draws, each item kept at its first occurrence. */
  private def draw(id: Long, vocab: Vocab, maxItems: Int, seed: Long): Array[Int] = {
    val h = XXH64.hashLong(id, HashSeed)
    val size = math.max(pmod(tagged(h, SizeTag, seed), maxItems), 1L).toInt
    val picked = new Array[Int](size)
    var seenLow = 0L
    var seenHigh: java.util.BitSet = null
    var k = 0
    var i = 1L
    while (i <= size) {
      val j = vocab.canon(pmod(XXH64.hashLong(seed, XXH64.hashLong(i, h)), vocab.size).toInt)
      val fresh =
        if (j < 64) { val bit = 1L << j; val f = (seenLow & bit) == 0; seenLow |= bit; f }
        else {
          if (seenHigh == null) seenHigh = new java.util.BitSet()
          val f = !seenHigh.get(j); seenHigh.set(j); f
        }
      if (fresh) { picked(k) = j; k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(picked, k)
  }

  /** Basket `id`'s items, in draw order. */
  def basketItems(id: Long, vocab: Vocab, maxItems: Int, seed: Long): ArrayData =
    new GenericArrayData(draw(id, vocab, maxItems, seed).map(vocab.utf8(_): Any))

  /** Basket `id` as one billing line: `2015-3-7,pane,latte`, or with
    * `priced` each item as `cost item`, cost `pmod(xxhash64(id, item,
    * seed), 20) + 1`. A NULL vocabulary item is left out, as
    * `concat_ws` drops it. */
  def billingLine(id: Long, vocab: Vocab, maxItems: Int, seed: Long, priced: Boolean): UTF8String = {
    val h = XXH64.hashLong(id, HashSeed)
    val date = DayText(pmod(tagged(h, DayTag, seed), 365).toInt)
    val items = draw(id, vocab, maxItems, seed)
    val costs = new Array[Int](items.length)
    var len = date.length + 1 + items.length
    var k = 0
    while (k < items.length) {
      val item = vocab.utf8(items(k))
      if (item != null) {
        len += item.numBytes
        if (priced) {
          costs(k) = pmod(tagged(h, item, seed), 20).toInt + 1
          len += (if (costs(k) < 10) 2 else 3)
        }
      }
      k += 1
    }
    val out = new Array[Byte](len)
    System.arraycopy(date, 0, out, 0, date.length)
    var pos = date.length
    out(pos) = ','
    pos += 1
    var first = true
    k = 0
    while (k < items.length) {
      val item = vocab.utf8(items(k))
      if (item != null) {
        if (!first) { out(pos) = ','; pos += 1 }
        first = false
        if (priced) {
          if (costs(k) >= 10) { out(pos) = ('0' + costs(k) / 10).toByte; pos += 1 }
          out(pos) = ('0' + costs(k) % 10).toByte
          out(pos + 1) = ' '
          pos += 2
        }
        item.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += item.numBytes
      }
      k += 1
    }
    UTF8String.fromBytes(out, 0, pos)
  }

  /** Document `docId`'s text from its template `tpl`: `pmod(xxhash64(tpl,
    * "len", seed), 60) + 30` tokens `w<t>`, space-joined. Token i (a long,
    * from 1) is `pmod(xxhash64(tpl, i, "tok", seed), vocabSize)`, except
    * in a `near` document where `pmod(xxhash64(docId, i, "mut", seed), 20)
    * == 0` substitutes `pmod(xxhash64(docId, i, "sub", seed), vocabSize)`.
    * `vocabSize == 0` fails with division by zero, as the ANSI `pmod` did. */
  def docText(docId: Long, tpl: Long, near: Boolean, vocabSize: Int, seed: Long): UTF8String = {
    val hDoc = XXH64.hashLong(docId, HashSeed)
    val hTpl = XXH64.hashLong(tpl, HashSeed)
    val n = pmod(tagged(hTpl, LenTag, seed), 60) + 30
    val buf = new java.lang.StringBuilder(n.toInt * 6)
    var i = 1L
    while (i <= n) {
      val hi = XXH64.hashLong(i, hDoc)
      val t =
        if (near && pmod(tagged(hi, MutTag, seed), 20) == 0) pmod(tagged(hi, SubTag, seed), vocabSize)
        else pmod(tagged(XXH64.hashLong(i, hTpl), TokTag, seed), vocabSize)
      if (i > 1) buf.append(' ')
      buf.append('w').append(t)
      i += 1
    }
    UTF8String.fromString(buf.toString)
  }

  private[functions] def checkLong(name: String, e: Expression): TypeCheckResult = e.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name requires a bigint input, got ${other.catalogString}")
  }

  private[functions] def checkDoc(docId: Expression, tpl: Expression,
                                  near: Expression): TypeCheckResult = {
    val ids = Seq(checkLong("doc_text", docId), checkLong("doc_text", tpl))
    ids.find(_.isFailure).getOrElse(near.dataType match {
      case BooleanType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"doc_text requires a boolean near flag, got ${other.catalogString}")
    })
  }

  def basketItems(id: Column, vocab: Seq[String], maxItems: Int, seed: Long): Column =
    ColumnBridge.column(BasketItems(ColumnBridge.expression(id), Vocab(vocab), maxItems, seed))

  def billingLine(id: Column, vocab: Seq[String], maxItems: Int, seed: Long,
                  priced: Boolean): Column =
    ColumnBridge.column(
      BillingLine(ColumnBridge.expression(id), Vocab(vocab), maxItems, seed, priced))

  def docText(docId: Column, tpl: Column, near: Column, vocabSize: Int, seed: Long): Column =
    ColumnBridge.column(DocText(ColumnBridge.expression(docId), ColumnBridge.expression(tpl),
      ColumnBridge.expression(near), vocabSize, seed))
}

/** A basket vocabulary as the kernels read it: UTF-8 items (NULL stays
  * NULL) and, per index, the first index holding an equal item, so
  * dedup matches `array_distinct` on a vocabulary with repeats. */
final case class Vocab(items: Seq[String]) {
  val utf8: Array[UTF8String] = items.map(UTF8String.fromString).toArray
  val canon: Array[Int] = {
    val first = scala.collection.mutable.HashMap[String, Int]()
    items.indices.map(i => first.getOrElseUpdate(items(i), i)).toArray
  }
  def size: Int = utf8.length
}

/** `basket_items(id)`: [[SeededDraw.basketItems]]. */
case class BasketItems(child: Expression, vocab: Vocab, maxItems: Int, seed: Long)
  extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = vocab.items.contains(null))
  override def checkInputDataTypes(): TypeCheckResult = SeededDraw.checkLong(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    SeededDraw.basketItems(input.asInstanceOf[Long], vocab, maxItems, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.addReferenceObj("vocab", vocab)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SeededDraw.basketItems($c, $v, $maxItems, ${seed}L)")
  }

  override protected def withNewChildInternal(c: Expression): BasketItems = copy(child = c)
  override def prettyName: String = "basket_items"
}

/** `billing_line(id)`: [[SeededDraw.billingLine]], dialect B when `priced`. */
case class BillingLine(child: Expression, vocab: Vocab, maxItems: Int, seed: Long,
                       priced: Boolean) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = SeededDraw.checkLong(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    SeededDraw.billingLine(input.asInstanceOf[Long], vocab, maxItems, seed, priced)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.addReferenceObj("vocab", vocab)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SeededDraw.billingLine($c, $v, $maxItems, ${seed}L, $priced)")
  }

  override protected def withNewChildInternal(c: Expression): BillingLine = copy(child = c)
  override def prettyName: String = "billing_line"
}

/** `doc_text(doc_id, tpl, near)`: [[SeededDraw.docText]]. */
case class DocText(docId: Expression, tpl: Expression, near: Expression,
                   vocabSize: Int, seed: Long) extends TernaryExpression {

  override def first: Expression = docId
  override def second: Expression = tpl
  override def third: Expression = near
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = SeededDraw.checkDoc(docId, tpl, near)

  override def nullSafeEval(d: Any, t: Any, n: Any): Any =
    SeededDraw.docText(d.asInstanceOf[Long], t.asInstanceOf[Long], n.asInstanceOf[Boolean],
      vocabSize, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (d, t, n) =>
      s"graft.functions.SeededDraw.docText($d, $t, $n, $vocabSize, ${seed}L)")

  override protected def withNewChildrenInternal(
      d: Expression, t: Expression, n: Expression): DocText =
    copy(docId = d, tpl = t, near = n)
  override def prettyName: String = "doc_text"
}
