package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** One-off generator for [[graft.functions.QualityWeights]]: trains a
  * fastText-class linear quality classifier over hashed bag-of-token
  * features and prints it as Scala source — the FreezeBpeMerges /
  * FreezeCentroids train-once/serve-many posture, for the model-based
  * curation gate that sits beside the heuristic q_quality_score.
  *
  * Model: logit(doc) = b + Σ_t w[h(t) mod D] · count(t) / n_tokens —
  * a single hashed-feature linear layer (fastText without subwords),
  * trained as full-batch logistic regression. Distillation labels:
  * stopword_ratio ≥ corpus median — the "looks like natural running
  * text" proxy the heuristic gate already exposes (the same
  * teach-a-cheap-model-an-expensive-label scheme production quality
  * classifiers use; here the teacher is the heuristic, so the frozen
  * artifact is fully reproducible from public data).
  *
  * Serving-side portability: weights are quantized to 10⁻⁶ fixed-point
  * Longs, so the per-document feature dot product is an INTEGER sum
  * (order-free, exact on any partitioning) and the logit is two IEEE
  * double ops from exact integers — the decimal-money-sum decision
  * class, which is what makes the classifier DuckDB-hash-verifiable.
  * Token hash = [[graft.functions.PortableHash60]] (md5-derived), the
  * engine-portable base hash of the dedup family.
  */
object FreezeQualityWeights {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val D = args.lift(1).map(_.toInt).getOrElse(256)
    // local[8]: the printed constants depend on partitioning and were frozen at 8 cores
    val spark = graft.Harness.session(cpus = 8)

    // collect (doc_id, tokens) — offline training tool, not a data path
    val docs: Array[(Long, Seq[String])] = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("toks"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
      .sortBy(_._1)
    spark.stop()

    val stop = graft.functions.TextFns.EnStop.toSet
    def ratio(toks: Seq[String]): Double =
      if (toks.isEmpty) 0.0 else toks.count(stop).toDouble / toks.size
    val ratios = docs.map { case (_, t) => ratio(t) }
    val median = ratios.sorted.apply(ratios.length / 2)
    val labels = ratios.map(r => if (r >= median) 1.0 else 0.0)

    def bucket(t: String): Int =
      (graft.functions.PortableHash60.hash(UTF8String.fromString(t)) % D).toInt
    val feats: Array[Array[Double]] = docs.map { case (_, toks) =>
      val x = new Array[Double](D)
      toks.foreach(t => x(bucket(t)) += 1.0)
      if (toks.nonEmpty) { var i = 0; while (i < D) { x(i) /= toks.size; i += 1 } }
      x
    }

    // full-batch logistic regression, fixed schedule — deterministic
    val w = new Array[Double](D)
    var b = 0.0
    val lr = 2.0
    for (_ <- 1 to 500) {
      val gw = new Array[Double](D)
      var gb = 0.0
      for (i <- docs.indices) {
        var z = b
        var j = 0
        while (j < D) { z += w(j) * feats(i)(j); j += 1 }
        val p = 1.0 / (1.0 + math.exp(-z))
        val err = p - labels(i)
        gb += err
        j = 0
        while (j < D) { gw(j) += err * feats(i)(j); j += 1 }
      }
      b -= lr * gb / docs.length
      var j = 0
      while (j < D) { w(j) -= lr * gw(j) / docs.length; j += 1 }
    }

    // quantize to 1e-6 fixed point and report train accuracy at the
    // QUANTIZED weights (the serving arithmetic)
    val wFp = w.map(x => math.round(x * 1e6))
    val bFp = math.round(b * 1e6)
    val acc = docs.indices.count { i =>
      val toks = docs(i)._2
      var s = 0L
      toks.foreach(t => s += wFp(bucket(t)))
      val logit =
        if (toks.isEmpty) bFp / 1e6
        else bFp / 1e6 + s.toDouble / 1e6 / toks.size
      (logit >= 0.0) == (labels(i) == 1.0)
    }.toDouble / docs.length
    System.err.println(s"train accuracy (quantized): $acc on ${docs.length} docs")

    println(s"  val D: Int = $D")
    println(s"  val biasFp: Long = ${bFp}L")
    println(s"  val weightsFp: Seq[Long] = Seq(")
    println(wFp.grouped(10).map(_.map(v => s"${v}L").mkString(", "))
      .mkString("    ", ",\n    ", ")"))
  }
}
