package perfbench

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.DataGen

/** Checks of the JVM-side helpers: the result fingerprint is independent
  * of row order and partitioning, the same whether the frame is written
  * or collected, and sensitive to a changed value, and
  * every workload input is a function of the seed. Prints `selftest ok`
  * or exits 1. */
object SelfTest {
  def run(work: Path): Unit = {
    val h = new Harness(work, 2, 0L, traced = false)
    val spark = h.startSession()
    try {
      val base = spark.range(0, 5000).select(col("id"), (col("id") % 7).as("k"),
        (col("id") / 3.0).as("x"), array(lit("a"), col("id").cast("string")).as("arr"))
      val fp = Fingerprint.compute(base)
      val shuffled = base.repartition(5, col("k")).sortWithinPartitions(col("x").desc)
      val changed = base.withColumn("x", when(col("id") === 4321, col("x") + 1e-9)
        .otherwise(col("x")))
      val observed = Fingerprint.of(h.materialize(shuffled))
      val (rows, collected) = h.collect(shuffled)

      def seeded(gen: Long => DataFrame): Boolean = {
        val a = Fingerprint.compute(gen(7L))
        a == Fingerprint.compute(gen(7L).repartition(3)) && a != Fingerprint.compute(gen(8L))
      }
      val failures = Seq(
        "reordered rows keep the fingerprint" -> (Fingerprint.compute(shuffled) == fp),
        "observed fingerprint equals aggregated" -> (observed == fp),
        "collected rows carry the same fingerprint" ->
          (Fingerprint.of(collected) == fp && rows.length == fp.rows),
        "one changed value changes it" -> (Fingerprint.compute(changed) != fp),
        "row count is part of it" -> (Fingerprint.compute(base.union(base)).rows == 2 * fp.rows),
        "dialect A lines follow the seed" ->
          seeded(s => DataGen.dialectALines(spark, 2000, seed = s).toDF()),
        "dialect B lines follow the seed" ->
          seeded(s => DataGen.dialectBLines(spark, 2000, seed = s).toDF()),
        "baskets follow the seed" -> seeded(s => DataGen.baskets(spark, 2000, seed = s)),
      ).collect { case (name, false) => name }
      if (failures.nonEmpty) {
        failures.foreach(f => System.err.println(s"selftest FAILED: $f"))
        sys.exit(1)
      }
      println("selftest ok")
    } finally h.stopSession()
  }
}
