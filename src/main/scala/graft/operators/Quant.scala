package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar int8 quantization of embedding columns — the serving-side
  * compression beside PQ's codebook compression: 4 B float → 1 B code
  * per dimension with per-vector abs-max calibration (the
  * faiss/llama.cpp Q8 shape). Everything is a narrow per-row
  * projection — no shuffle, no state, trivially 100 TB-safe.
  *
  * Oracle portability: scale = 127/maxabs is one IEEE division;
  * code_i = floor(x_i·scale + 0.5) is exact-rounded multiply/add then
  * an exact floor, so even the FLOAT-derived codes hash-verify (the
  * same determinism class as CosineSimilarity's double fold). Zero
  * vectors get scale 0 and all-zero codes.
  */
object Quant {

  /** Per-vector quantization codes + calibration scale. Output:
    * idCol, scale (double), q (array<long> codes in [-127, 127]). */
  def int8Codes(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    // project computed columns before referencing them in HOF lambdas
    // (the shingles perf trap — a lambda re-evaluates its captures)
    df.select(col(idCol), v.as("v"))
      .select(col(idCol), col("v"),
        array_max(transform(col("v"), x => abs(x))).as("maxabs"))
      .select(col(idCol), col("v"),
        when(col("maxabs") > 0, lit(127.0) / col("maxabs")).otherwise(lit(0.0)).as("scale"))
      .select(col(idCol), col("scale"),
        transform(col("v"), x => floor(x * col("scale") + lit(0.5)).cast("long")).as("q"))
  }

  /** Dequantized dot product of two int8-coded vectors given their
    * scales: the integer code dot folds exactly (BIGINT), ONE float
    * multiply by 1/(scale_a·scale_b) recovers the approximate float
    * dot — the int8 serving kernel's arithmetic shape. */
  def dequantDot(qa: Column, qb: Column, scaleA: Column, scaleB: Column): Column =
    when(scaleA > 0 && scaleB > 0,
      aggregate(zip_with(qa, qb, (x, y) => x * y), lit(0L), (acc, p) => acc + p)
        .cast("double") / (scaleA * scaleB))
      .otherwise(lit(0.0))
}
