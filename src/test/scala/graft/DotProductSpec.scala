package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Pins the codegen'd DotProduct kernel that Similarity.dot calls to the
  * composable HOF fold (Similarity.dotHof): bit-identical results on
  * every element-type pairing, the fold's NULL semantics, and analysis-
  * time rejection of anything but ARRAY<FLOAT|DOUBLE>. */
class DotProductSpec extends SparkSpec {

  lazy val emb = Tables.embeddings(spark, sf001).limit(50)

  test("kernel == HOF fold, bit-exact, on float, double and mixed inputs") {
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.limit(10).select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val wide = (c: String) => transform(col(c), x => x.cast("double"))
    val sides = Seq(
      (col("va"), col("vb")), (wide("va"), wide("vb")),
      (col("va"), wide("vb")), (wide("va"), col("vb")))
    val rows = a.crossJoin(b).select(sides.flatMap { case (x, y) =>
      Seq(Similarity.dot(x, y), Similarity.dotHof(x, y))
    }: _*).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val bits = (0 until 8).map(i => java.lang.Double.doubleToLongBits(r.getDouble(i)))
      assert(bits.distinct.size == 1, s"kernel and fold diverged: $r")
    }
  }

  test("null element and length mismatch both yield NULL, matching zip_with") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),
      (3L, Seq[java.lang.Double](1.0), Seq[java.lang.Double](3.0, 4.0))
    ).toDF("id", "a", "b")
    val expected = Map(1L -> Some(11.0), 2L -> None, 3L -> None)
    for (f <- Seq(Similarity.dot _, Similarity.dotHof _)) {
      val rows = df.select(col("id"), f(col("a"), col("b"))).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(rows == expected)
    }
  }

  test("int-array and non-array inputs fail at analysis with the kernel's message") {
    import spark.implicits._
    val df = Seq((Array(1, 2), Array(3.0f, 4.0f), 5L)).toDF("ints", "floats", "n")
    for ((x, y, got) <- Seq(("ints", "floats", "array<int>"), ("floats", "n", "bigint"))) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(Similarity.dot(col(x), col(y))).collect()
      }
      assert(e.getMessage.contains(
        s"dot_product requires ARRAY<FLOAT> or ARRAY<DOUBLE> inputs, got $got"), e.getMessage)
    }
  }
}
