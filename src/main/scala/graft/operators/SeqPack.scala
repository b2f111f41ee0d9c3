package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-sequence packing: lay every document's tokens end to end in
  * a deterministic global order and chop the stream every `seqLen`
  * tokens — the GPT-style concat-and-chop batcher (each training
  * sequence is `seqLen` tokens; documents crossing a boundary are split
  * across consecutive sequences). The output maps each doc to its token
  * interval and the sequences it lands in, which is everything a
  * packing writer needs to emit shards.
  *
  * Scale: the global exclusive prefix sum is NOT a single-partition
  * window (the classic scale-killer). It is the textbook two-level
  * scan: range-repartition on the order key, one local sequential pass
  * per partition, then a partition-totals frame (#partitions rows) is
  * cumulated and joined back as per-partition offsets. The only
  * full-data exchange is the range repartition any global order needs;
  * everything after is map-side.
  */
object SeqPack {

  /** Exclusive global prefix sum of `nTokCol` in `orderCol` order,
    * emitted as `tok_start`. Output columns: orderCol, nTokCol,
    * tok_start. The result is independent of the partition count —
    * boundaries only move which pass computes which prefix.
    *
    * CONTRACT: `orderCol` must be a TOTAL order (no duplicates, no
    * NULLs) or the prefix at tied/NULL rows is partition-order-
    * dependent — callers either pass a unique id
    * ([[packSequences]] filters NULLs), or build a struct whose
    * trailing field is unique ([[Dedup.sortedNeighborhoodPairs]]). */
  def prefixSum(df: DataFrame, orderCol: String, nTokCol: String,
                partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val nPart = if (partitions > 0) partitions
                else spark.sessionState.conf.numShufflePartitions
    // cast up front: the mapPartitions below reads getLong(1), which
    // throws at runtime (not plan time) on an IntegerType input
    val ranged = df.select(col(orderCol), col(nTokCol).cast("long").as(nTokCol))
      .repartitionByRange(nPart, col(orderCol))
      .sortWithinPartitions(orderCol)
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+
        org.apache.spark.sql.types.StructField("part_id", org.apache.spark.sql.types.IntegerType) :+
        org.apache.spark.sql.types.StructField("local_start", org.apache.spark.sql.types.LongType))
    val withLocal = ranged.mapPartitions { rows =>
      val pid = TaskContext.getPartitionId()
      var cum = 0L
      rows.map { r =>
        val n = r.getLong(1)
        val start = cum
        cum += n
        org.apache.spark.sql.Row(r.get(0), n, pid, start)
      }
    }(org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema))
    // Two consumers (the offsets agg and the join probe) — persist so the
    // range exchange + local scan run once; released by Verify/Bench.
    val local = graft.Caching.persistTracked(withLocal)
    // #partitions rows — the tiny frame a single-partition window is FOR.
    val offsets = local.groupBy(col("part_id"))
      .agg(sum(col(nTokCol)).as("part_total"))
      .withColumn("part_offset",
        coalesce(sum(col("part_total")).over(
          Window.orderBy("part_id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("part_id"), col("part_offset"))
    local.join(broadcast(offsets), "part_id")
      .select(col(orderCol), col(nTokCol),
        (col("part_offset") + col("local_start")).as("tok_start"))
  }

  /** Pack documents into fixed-length training sequences. Input needs an
    * id column (the deterministic order) and a token-count column; rows
    * with zero tokens are dropped (they occupy no stream positions).
    * Output per doc: n_tokens, tok_start, seq_first, seq_last, n_seqs. */
  def packSequences(df: DataFrame, idCol: String, nTokCol: String, seqLen: Long): DataFrame = {
    require(seqLen >= 1, s"seqLen must be positive: $seqLen")
    // NULL ids violate prefixSum's total-order contract (ties among
    // NULL peers make the layout partition-order-dependent) — same
    // reproducible-layout rule as TextPipeline.packSequences
    prefixSum(df.filter(col(idCol).isNotNull && col(nTokCol) > 0), idCol, nTokCol)
      .select(col(idCol), col(nTokCol), col("tok_start"),
        expr(s"tok_start div $seqLen").as("seq_first"),
        expr(s"(tok_start + $nTokCol - 1) div $seqLen").as("seq_last"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
  }

  /** Per-sequence occupancy: how many docs contribute to each packed
    * sequence and how many of them were split across a boundary —
    * the shard-writer's manifest. A doc explodes into one row per
    * sequence it touches (bounded: n_seqs ≤ n_tokens/seqLen + 2). The
    * sequence geometry is already baked into seq_first/seq_last by
    * [[packSequences]], so no seqLen parameter: passing a different one
    * than the packing used could only be silently ignored. */
  def sequenceManifest(packed: DataFrame): DataFrame = {
    val perSeq = packed.select(
      col("seq_first"), col("seq_last"),
      explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"),
      (col("seq_last") > col("seq_first")).as("spans"))
    perSeq.groupBy("seq_id").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("spans"), 1L).otherwise(0L)).as("n_split_docs"))
  }
}
