package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** The fused codegen'd SRP coder must be bit-identical to the HOF
  * formulation it replaces — same hyperplanes, same fold order — so
  * every LSH bucket assignment (embed near-dups, ANN) is unchanged.
  */
class SrpSpec extends SparkSpec {

  test("native SrpCode == HOF srpBuckets on the embeddings table") {
    val emb = Tables.embeddings(spark, sf001)
    val native = emb.select(col("vec_id"),
      Similarity.srpBuckets(col("embedding"), 64, 4, 16).as("codes"))
    val hof = emb.select(col("vec_id"),
      Similarity.srpBucketsHof(col("embedding"), 64, 4, 16).as("codes"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
    assert(native.count() > 0)
  }

  test("SrpCode handles ARRAY<DOUBLE> and matches the HOF coder there too") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (1L to 40L).map(i => (i, Array.fill(16)(rnd.nextGaussian())))
      .toDF("id", "v")
    val native = df.select(col("id"), Similarity.srpBuckets(col("v"), 16, 4, 8).as("c"))
    val hof = df.select(col("id"), Similarity.srpBucketsHof(col("v"), 16, 4, 8).as("c"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("SrpCode matches HOF on null elements and length mismatches (all bits unset)") {
    import spark.implicits._
    val df = Seq(
      (1L, Array[java.lang.Double](1.0, null, 3.0, 4.0)), // null element
      (2L, Array[java.lang.Double](1.0, 2.0))              // shorter than dim
    ).toDF("id", "v")
    val native = df.select(col("id"), Similarity.srpBuckets(col("v"), 4, 3, 2).as("c"))
    val hof = df.select(col("id"), Similarity.srpBucketsHof(col("v"), 4, 3, 2).as("c"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
    val codes = native.collect().map(_.getSeq[Long](1)).toSeq
    assert(codes.forall(_.forall(_ == 0L)), s"expected all-zero codes, got $codes")
  }

  test("SrpCode matches HOF on a NULL input vector (all bits unset, never null)") {
    import spark.implicits._
    // the HOF formulation's when(null >= 0) falls through to 0 for every
    // plane, so a NULL vector gets the all-zero code array — it must
    // land in bucket 0 of every LSH table, not be dropped by posexplode
    val df = Seq(
      (1L, Array(1.0f, -2.0f, 3.0f, 0.5f)),
      (2L, null.asInstanceOf[Array[Float]])
    ).toDF("id", "v")
    val native = df.select(col("id"), Similarity.srpBuckets(col("v"), 4, 3, 2).as("c"))
    val hof = df.select(col("id"), Similarity.srpBucketsHof(col("v"), 4, 3, 2).as("c"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
    assert(native.filter(col("c").isNull).count() == 0)
    val nullRow = native.filter(col("id") === 2L).collect().head.getSeq[Long](1)
    assert(nullRow == Seq(0L, 0L), s"expected all-zero codes for NULL vector, got $nullRow")
  }

  test("SrpCode rejects non-numeric-array input at analysis") {
    import spark.implicits._
    val df = Seq((1L, Array("a", "b"))).toDF("id", "v")
    intercept[Exception] {
      df.select(graft.functions.SrpCode(col("v"), Array.fill(4)(0.5), 2, 1, 2)).collect()
    }
  }

  test("SrpCode validates the hyperplane matrix size") {
    intercept[IllegalArgumentException] {
      graft.functions.SrpCode(col("v"), Array(0.5), dim = 2, planes = 2, tables = 2)
    }
  }
}
