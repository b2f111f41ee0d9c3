package graft

import org.apache.spark.sql.functions._

/** Pins that AQE's runtime skew-join handling actually engages on a
  * skewed shuffle join in this engine's configuration — the mechanism
  * the scaladocs point to for hot-key joins at scale (alongside the
  * explicit guards: Salting, IntervalJoin buckets, LSH caps). Thresholds
  * are lowered so the driver-scale fixture trips the same code path a
  * 100 TB hot key would.
  */
class SkewJoinSpec extends SparkSpec {

  test("AQE splits a skewed join partition (plan shows skewed AQEShuffleRead)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> util.Try(Option(conf.get(k))).toOption.flatten)
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      // force a shuffle join — broadcast would bypass the skew path
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

      // 200k rows of key 0 + a uniform tail: one shuffle partition dwarfs
      // the rest
      val skewed = spark.range(0, 220000)
        .select(when(col("id") < 200000, 0L).otherwise(col("id") % 1000).as("k"),
          concat(lit("payload-payload-payload-"), col("id")).as("v"))
      val dim = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 7).as("w"))
      val joined = skewed.join(dim, Seq("k"))
      // materialize THIS Dataset's QueryExecution (count() would build a
      // separate one and leave joined's AQE plan unexecuted); every row
      // matches exactly one dim row (tail keys wrap into 0..999)
      assert(joined.collect().length == 220000)

      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("AQEShuffleRead"), s"no AQE shuffle read in:\n$plan")
      assert(plan.contains("skewed"), s"skew handling did not engage in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
