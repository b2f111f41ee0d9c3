package graft

import org.apache.spark.sql.functions._
import graft.operators.ZOrder

/** Z-order key: bit-exact vs a direct per-bit reference interleave. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Reference Morton interleave — one bit at a time, no magic masks. */
  private def mortonRef(a: Long, b: Long): Long = {
    var out = 0L
    for (bit <- 0 until 16) {
      out |= ((a >> bit) & 1L) << (2 * bit)
      out |= ((b >> bit) & 1L) << (2 * bit + 1)
    }
    out
  }

  test("zkey2 matches the per-bit reference on random and boundary inputs") {
    val rnd = new scala.util.Random(7)
    val cases = Seq((0L, 0L), (65535L, 65535L), (65535L, 0L), (0L, 65535L),
      (123456789L, 987654321L)) ++ // masking of high bits
      Seq.fill(200)((rnd.nextLong().abs, rnd.nextLong().abs))
    val got = cases.toDF("a", "b")
      .select(ZOrder.zkey2(col("a"), col("b"))).as[Long].collect()
    cases.zip(got).foreach { case ((a, b), z) =>
      assert(z == mortonRef(a & 65535L, b & 65535L), s"($a,$b)")
    }
  }

  test("zkey is monotone-compatible: equal inputs collide, adjacent cells stay local") {
    val z00 = mortonRef(0, 0); val z10 = mortonRef(1, 0); val z01 = mortonRef(0, 1)
    assert(z00 == 0L && z10 == 1L && z01 == 2L) // interleave order a-even b-odd
  }
}
