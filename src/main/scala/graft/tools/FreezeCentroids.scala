package graft.tools

import org.apache.spark.sql.functions._

/** One-off generator for [[graft.operators.IvfCentroids]]: trains the
  * IVF coarse quantizer exactly as `Similarity.ivfTopK` does (KMeans
  * k=16, seed=42, maxIter=5) on the sf0.01 `embeddings` table and
  * prints the trained centroids as Scala float-literal source — the
  * "train once" step of the train-once/serve-many posture. Re-run and
  * re-paste if the training corpus or quantizer config changes.
  */
object FreezeCentroids {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // local[8]: the printed constants depend on partitioning and were frozen at 8 cores
    val spark = graft.Harness.session(cpus = 8)
    val train = graft.Tables.embeddings(spark, dir)
      .select(array_to_vector(col("embedding")).as("features"))
    val model = new KMeans().setK(16).setSeed(42L).setMaxIter(5).fit(train)
    model.clusterCenters.zipWithIndex.foreach { case (c, i) =>
      println(s"    /* cell $i */ Array(" +
        c.toArray.map(d => d.toFloat.toString + "f").mkString(", ") + "),")
    }
    spark.stop()
  }
}
