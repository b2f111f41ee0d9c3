package graft

import org.apache.spark.sql.functions._
import graft.operators.Quant

class QuantSpec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f)),   // zero vector: scale 0, codes 0
      (3L, Seq(2.0f)),
      (4L, Seq(-0.004f, 0.002f, 0.004f))
    ).toDF("vec_id", "embedding")
  }

  test("codes match the scalar definition; peak code is ±127; zero vectors degrade") {
    val out = Quant.int8Codes(vecs, "vec_id", "embedding")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("scale"), r.getSeq[Long](r.fieldIndex("q")))).toMap
    val (s1, q1) = out(1L)
    assert(s1 == 127.0 / 1.0)
    assert(q1 == Seq(math.floor(0.5 * s1 + 0.5).toLong,
                     math.floor(-1.0 * s1 + 0.5).toLong,
                     math.floor(0.25 * s1 + 0.5).toLong))
    assert(q1.map(math.abs).max == 127L || q1.contains(-127L + 1))
    assert(out(2L) == ((0.0, Seq(0L, 0L, 0L))))
    assert(out(3L)._2 == Seq(127L))
    // tiny magnitudes still span the full code range after calibration
    assert(out(4L)._2.map(math.abs).max == 127L)
  }

  test("dequantized self-dot approximates the true squared norm within int8 error") {
    val approx = Quant.int8Codes(vecs.filter(col("vec_id") =!= 2), "vec_id", "embedding")
      .select(col("vec_id"),
        Quant.dequantDot(col("q"), col("q"), col("scale"), col("scale")).as("a"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("a")).toMap
    val truth = Map(1L -> (0.25 + 1.0 + 0.0625), 3L -> 4.0,
      4L -> (0.004 * 0.004 + 0.002 * 0.002 + 0.004 * 0.004))
    truth.foreach { case (id, t) =>
      val rel = math.abs(approx(id) - t) / t
      assert(rel < 0.02, s"vec $id: approx=${approx(id)} true=$t rel=$rel")
    }
  }

  test("quantization is a narrow projection — no exchange in the plan") {
    val p = Quant.int8Codes(vecs, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"int8 quantization must not shuffle:\n$p")
  }
}
