package graft.tools

import org.apache.spark.sql.functions._

/** One-off generator for [[graft.operators.PqCodebooks]]: trains one
  * k-means codebook PER SUBSPACE (numSub=4 slices of 16 dims, k=16,
  * seed=42, maxIter=5 — the [[FreezeCentroids]] recipe applied to
  * product quantization, Jégou et al. TPAMI 2011) on the sf0.01
  * `embeddings` table and prints the trained sub-centroids as Scala
  * float-literal source. Re-run and re-paste if the training corpus or
  * quantizer config changes.
  */
object FreezePqCodebooks {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val numSub = 4; val subDim = 16
    // local[8]: the printed constants depend on partitioning and were frozen at 8 cores
    val spark = graft.Harness.session(cpus = 8)
    val emb = graft.Tables.embeddings(spark, dir)
    (0 until numSub).foreach { m =>
      val train = emb
        .select(array_to_vector(slice(col("embedding"), m * subDim + 1, subDim)).as("features"))
      val model = new KMeans().setK(16).setSeed(42L).setMaxIter(5).fit(train)
      println(s"    /* subspace $m */ Array(")
      model.clusterCenters.zipWithIndex.foreach { case (c, i) =>
        println(s"      /* code $i */ Array(" +
          c.toArray.map(d => d.toFloat.toString + "f").mkString(", ") + "),")
      }
      println("    ),")
    }
    spark.stop()
  }
}
