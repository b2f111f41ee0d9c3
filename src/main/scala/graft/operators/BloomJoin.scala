package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Bloom-prefiltered joins — the shuffle-volume reducer for selective
  * joins at 100 TB.
  *
  * A semi join of a 100 TB fact table against a selective key set still
  * shuffles EVERY fact row to its hash partition before a single row is
  * dropped. This operator builds a bloom filter over the build side's
  * keys (one small aggregation, sketch size bounded by `expectedItems`,
  * never by data volume), plants it as a scalar subquery in a map-side
  * filter on the probe side, and ONLY THEN runs the exact join: rows
  * that cannot match (bloom-negative) never enter the shuffle. False
  * positives survive the prefilter but are eliminated by the exact join
  * — the result is bit-identical to the plain join for ANY filter size,
  * so sizing the sketch is a pure performance knob, never a correctness
  * one (pinned in BloomJoinSpec with a deliberately undersized filter).
  *
  * This is the manual form of Spark's own runtime-filter injection
  * (spark.sql.optimizer.runtime.bloomFilter, which only triggers on
  * selective-scan heuristics); making it an operator lets a pipeline
  * apply it where the engine's heuristics can't see the selectivity —
  * e.g. a dedup id-list produced upstream in the same job.
  *
  * Spark-side mechanics: the probe filter is
  * `BloomFilterMightContain(scalar-subquery(bloom agg), xxhash64(key))`
  * — the same expression pair Catalyst's InjectRuntimeFilter plants.
  * The subquery executes once, broadcasts its one binary row, and the
  * might-contain probe is codegen'd (no UDF, no driver collect: the
  * sketch never leaves the executors except as the subquery result).
  */
object BloomJoin {

  /** `xxhash64(key)` — the LongType hash BloomFilterAggregate requires. */
  private def keyHash(key: Column): Column =
    ColumnBridge.column(new XxHash64(Seq(ColumnBridge.expression(key))))

  /** Bloom filter (binary blob) aggregated over `small`'s `key`. */
  def bloomOf(small: DataFrame, key: Column, expectedItems: Long): DataFrame =
    small.agg(ColumnBridge.column(
      new BloomFilterAggregate(ColumnBridge.expression(keyHash(key)), expectedItems)
        .toAggregateExpression()).as("bf"))

  /** Map-side prefilter: keep `big` rows whose `key` MIGHT be in the
    * bloom of `small`'s keys. Superset of the exact match set. */
  def prefilter(big: DataFrame, bigKey: Column, small: DataFrame,
                smallKey: Column, expectedItems: Long): DataFrame = {
    val bloomPlan = bloomOf(small, smallKey, expectedItems)
      .queryExecution.analyzed
    big.filter(ColumnBridge.column(BloomFilterMightContain(
      ScalarSubquery(bloomPlan),
      ColumnBridge.expression(keyHash(bigKey)))))
  }

  /** Exact left-semi join with a bloom prefilter on the probe side.
    * Result ≡ `big.join(small, bigKey === smallKey, "left_semi")`.
    * The build side is projected to the key ALIASED and the condition
    * re-written against that alias: re-referencing `smallKey` after the
    * projection only resolves for simple column refs — an EXPRESSION
    * key (e.g. `upper(col)`) would reference columns the projection
    * just dropped (r12 review finding). */
  def semiJoin(big: DataFrame, bigKey: Column, small: DataFrame,
               smallKey: Column, expectedItems: Long = 1000000L): DataFrame =
    prefilter(big, bigKey, small, smallKey, expectedItems)
      .join(small.select(smallKey.as("_bj_key")),
        bigKey === col("_bj_key"), "left_semi")
}
