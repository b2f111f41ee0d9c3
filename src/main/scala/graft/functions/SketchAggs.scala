package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Custom Catalyst aggregates for the sketching ops.
  *
  * Why custom: the declarative formulation (64 separate `min(...)` /
  * `sum(case ...)` agg columns) blows past the whole-stage-codegen field
  * limit, so Spark falls back to interpreted per-expression evaluation —
  * ~8× slower on the update path. A [[TypedImperativeAggregate]] keeps
  * the whole sketch in ONE buffer (`Array[Long]`) updated by a tight JVM
  * loop, runs under `ObjectHashAggregateExec` with map-side partial
  * aggregation, and shuffles one 512-byte blob per group instead of 64
  * columns.
  *
  * Both sketches are merge-associative (elementwise min / elementwise
  * sum), so partial aggregation and AQE re-planning are safe at any
  * partitioning — a requirement for 100 TB runs.
  */
object SketchAggs {

  private[graft] val MersenneP: Long = 2147483647L // 2^31 − 1

  // update() casts child values without runtime checks (tight loops);
  // these fail a wrong-typed column at analysis instead of mid-job —
  // same contract as misra_gries_agg
  private def requireType(name: String, e: Expression, t: DataType):
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (e.dataType == t) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$name needs ${t.sql}, got ${e.dataType.sql}")

  /** Fixed-seed affine family h_i(x) = (a_i·x + b_i) mod p, materialized
    * as flat arrays. The constants are also interpolated into the DuckDB
    * oracle SQL (DedupQueries.SigList) so signatures verify bit-exactly
    * when built on the portable base hash. */
  private[graft] val (famA: Array[Long], famB: Array[Long]) = {
    val rnd = new scala.util.Random(42)
    val a = Array.fill(64)(1L + rnd.nextInt((MersenneP - 1).toInt).toLong)
    val b = Array.fill(64)(rnd.nextInt(MersenneP.toInt).toLong)
    (a, b)
  }

  private def longsToBytes(a: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(a.length * 8)
    a.foreach(bb.putLong)
    bb.array()
  }

  private def bytesToLongs(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  /** MinHash signature over a pre-hashed (LONG) shingle column.
    * min is idempotent ⇒ callers need NO distinct() pass — duplicates
    * in the input stream cannot change the signature. */
  case class MinHashAgg(child: Expression, numHashes: Int,
                        override val mutableAggBufferOffset: Int = 0,
                        override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

    require(numHashes >= 1 && numHashes <= famA.length,
      s"numHashes must be in 1..${famA.length}, got $numHashes")

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      requireType("minhash_agg (pre-hashed shingle)", child, LongType)

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false

    override def createAggregationBuffer(): Array[Long] =
      Array.fill(numHashes)(Long.MaxValue)

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) {
        val hm = java.lang.Math.floorMod(v.asInstanceOf[Long], MersenneP)
        var i = 0
        while (i < numHashes) {
          val x = (famA(i) * hm + famB(i)) % MersenneP
          if (x < buf(i)) buf(i) = x
          i += 1
        }
      }
      buf
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < numHashes) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
      b1
    }

    override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)
    override def serialize(buf: Array[Long]): Array[Byte] = longsToBytes(buf)
    override def deserialize(bytes: Array[Byte]): Array[Long] = bytesToLongs(bytes)

    override def withNewMutableAggBufferOffset(o: Int): MinHashAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): MinHashAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): MinHashAgg = copy(child = c)
    override def prettyName: String = "minhash_agg"
  }

  /** 64-bit SimHash over a pre-hashed (LONG) token column: each bit of
    * each token hash votes ±1 (term-frequency weighted by construction);
    * eval packs the vote signs into one LONG. Buffer = 64 vote counters. */
  case class SimHashAgg(child: Expression,
                        override val mutableAggBufferOffset: Int = 0,
                        override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      requireType("simhash_agg (pre-hashed token)", child, LongType)

    override def dataType: DataType = LongType
    override def nullable: Boolean = false

    override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) {
        val h = v.asInstanceOf[Long]
        var b = 0
        while (b < 64) {
          buf(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L)
          b += 1
        }
      }
      buf
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < 64) { b1(i) += b2(i); i += 1 }
      b1
    }

    override def eval(buf: Array[Long]): Any = {
      var out = 0L
      var b = 0
      while (b < 64) { if (buf(b) >= 0L) out |= (1L << b); b += 1 }
      out
    }

    override def serialize(buf: Array[Long]): Array[Byte] = longsToBytes(buf)
    override def deserialize(bytes: Array[Byte]): Array[Long] = bytesToLongs(bytes)

    override def withNewMutableAggBufferOffset(o: Int): SimHashAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): SimHashAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): SimHashAgg = copy(child = c)
    override def prettyName: String = "simhash_agg"
  }

  /** BPE-training round kernel: adjacent-pair counts over a weighted
    * word dictionary AND the argmax merge selection, in ONE aggregation
    * buffer (a LongMap keyed by `left_char << 32 | right_char`).
    *
    * Why custom: the declarative round (sequence-explode → substring
    * projection → groupBy(l, r) → global min_by) plans 3 stages and two
    * exchanges per round — at 96 rounds the fixed stage/AQE scheduling
    * latency dominates the (vocabulary-bounded) work 10×+. This fuses
    * the whole round into partial-aggregate maps merged through one
    * single-partition exchange: 2 stages, one ≤(pair-vocab)·16-byte
    * blob per partition (measured 17.7 s → 6.2 s for the 96-round
    * q_bpe_train).
    *
    * Pair iteration is over UTF-16 code units — exactly
    * [[graft.tools.FreezeBpeMerges]]'s char loop (and ≡ codepoints on
    * the BMP-only symbol alphabet BPE training guarantees: base chars
    * are corpus chars, merged symbols are PUA). Merge-associative
    * (entrywise sum), so partial aggregation is safe at any
    * partitioning. eval returns struct(l_code, r_code, cnt) for the
    * best pair by (count desc, left code asc, right code asc) — the
    * FreezeBpeMerges tie-break — or null when no word has 2+ symbols.
    */
  case class PairArgmaxAgg(left: Expression, right: Expression,
                           override val mutableAggBufferOffset: Int = 0,
                           override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[scala.collection.mutable.LongMap[Long]]
    with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val l = requireType("pair_argmax (word)", left, org.apache.spark.sql.types.StringType)
      if (l.isSuccess) requireType("pair_argmax (weight)", right, LongType) else l
    }

    override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("l_code", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("r_code", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cnt", LongType, nullable = false)))
    override def nullable: Boolean = true

    override def createAggregationBuffer(): scala.collection.mutable.LongMap[Long] =
      scala.collection.mutable.LongMap.empty[Long]

    override def update(buf: scala.collection.mutable.LongMap[Long],
                        input: InternalRow): scala.collection.mutable.LongMap[Long] = {
      val w = left.eval(input)
      val n = right.eval(input)
      if (w != null && n != null) {
        val s = w.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
        val cnt = n.asInstanceOf[Long]
        var j = 0
        while (j < s.length - 1) {
          val key = (s.charAt(j).toLong << 32) | s.charAt(j + 1).toLong
          buf.update(key, buf.getOrElse(key, 0L) + cnt)
          j += 1
        }
      }
      buf
    }

    override def merge(b1: scala.collection.mutable.LongMap[Long],
                       b2: scala.collection.mutable.LongMap[Long]): scala.collection.mutable.LongMap[Long] = {
      b2.foreachEntry((k, v) => b1.update(k, b1.getOrElse(k, 0L) + v))
      b1
    }

    override def eval(buf: scala.collection.mutable.LongMap[Long]): Any = {
      if (buf.isEmpty) null
      else {
        // best = max count, ties to the LOWEST packed key — left char
        // sits in the high bits, so packed-key order ≡ (l asc, r asc)
        var bestKey = 0L; var bestCnt = -1L
        buf.foreachEntry { (k, v) =>
          if (v > bestCnt || (v == bestCnt && k < bestKey)) { bestKey = k; bestCnt = v }
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](bestKey >>> 32, bestKey & 0xFFFFFFFFL, bestCnt))
      }
    }

    override def serialize(buf: scala.collection.mutable.LongMap[Long]): Array[Byte] = {
      val bb = ByteBuffer.allocate(buf.size * 16)
      buf.foreachEntry { (k, v) => bb.putLong(k); bb.putLong(v) }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): scala.collection.mutable.LongMap[Long] = {
      val bb = ByteBuffer.wrap(bytes)
      val m = scala.collection.mutable.LongMap.empty[Long]
      var i = 0
      while (i < bytes.length / 16) { m.update(bb.getLong, bb.getLong); i += 1 }
      m
    }

    override def withNewMutableAggBufferOffset(o: Int): PairArgmaxAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): PairArgmaxAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PairArgmaxAgg =
      copy(left = l, right = r)
    override def prettyName: String = "pair_argmax"
  }

  def pair_argmax(word: Column, weight: Column): Column =
    ColumnBridge.column(PairArgmaxAgg(
      ColumnBridge.expression(word), ColumnBridge.expression(weight))
      .toAggregateExpression())

  def minhash_agg(hashed: Column, numHashes: Int = 64): Column =
    ColumnBridge.column(MinHashAgg(ColumnBridge.expression(hashed), numHashes)
      .toAggregateExpression())

  def simhash_agg(hashed: Column): Column =
    ColumnBridge.column(SimHashAgg(ColumnBridge.expression(hashed))
      .toAggregateExpression())
}
