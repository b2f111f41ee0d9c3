package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Sql

/** One verifiable unit of engine surface: a Spark query over the driver's
  * parquet tables plus its DuckDB oracle. Every query has one — the
  * oracle is a required [[Sql]] value, so neither an unverified entry nor
  * a plain margin-bar String literal compiles; it is stored trimmed.
  *
  * Column names AND types must line up between `fn`'s result and the
  * oracle (the driver sorts columns by name before hashing values), so
  * every computed column is aliased identically on both sides and
  * integer-ish outputs are BIGINT on both sides.
  *
  * `coalesceByBytes` runs the query with post-shuffle partitions
  * COALESCED BY BYTES (`spark.sql.adaptive.coalescePartitions.parallelismFirst=false`,
  * guide §2.2): AQE merges small shuffle outputs toward the advisory
  * size instead of keeping one partition per core, so a KB-sized
  * micro-batch fold or small intermediate stops paying 32 tasks of
  * scheduling per exchange — and at 100 TB the SAME setting yields
  * advisory-sized (~64 MB) partitions, the guide's recommended posture,
  * so this is not a local-only knob. It is OPT-IN because coalescing
  * also serializes compute-bound-but-byte-light stages (measured r20:
  * the per-pair explode of q_assoc_rules 1.20 → 2.50 s, the media codec
  * aggs, and the min-label CC rounds of q_dedup_clusters, q_label_prop
  * and q_pagerank, 1.1–1.5×, whose checkpointed co-partitioning it
  * breaks). Only CONSISTENT winners of the r20 three-chunk A/B record
  * (OPTIMIZATION_r20.md, per-query evidence) set it: the streaming
  * replay gates, whose per-epoch folds and stateful joins move KBs
  * (0.61–0.90× across two chunks); batch queries with small keyed
  * intermediates (0.73–0.87×, ≥80 ms); and three byte-light CC-family
  * paths re-measured quiet in two agreeing subset runs after two
  * conflicting chunk observations (q_entity_clusters 0.77,
  * q_star_clusters 0.85, q_incremental_cc 0.88).
  */
final class QueryDef private (
    val fn: (SparkSession, String) => DataFrame,
    val oracle: String,
    val coalesceByBytes: Boolean)

object QueryDef {
  def apply(fn: (SparkSession, String) => DataFrame, oracle: Sql,
            coalesceByBytes: Boolean = false): QueryDef =
    new QueryDef(fn, oracle.text.trim, coalesceByBytes)
}
