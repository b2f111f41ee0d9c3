package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query implementations live in `graft.queries.*` registries (each a
  * `Seq[(name, QueryDef)]`); this object is just the merge point the
  * driver's Verify/Bench mains read.
  */
object SparkEntry {

  private val registry: Seq[(String, QueryDef)] =
    RelationalQueries.defs ++ BasketQueries.defs ++
      JoinQueries.defs ++ WindowQueries.defs ++ EventQueries.defs ++
      TextQueries.defs ++ DedupQueries.defs ++ SimilarityQueries.defs ++
      MediaQueries.defs ++ SqlQueries.defs ++ TpchQueries.defs ++
      PipelineQueries.defs ++ BpeQueries.defs ++ GraphQueries.defs ++
      CdcQueries.defs ++ ProfileQueries.defs ++ TpchDeepQueries.defs ++
      StreamQueries.defs

  // a name collision between registry files would silently drop a query
  // (and its oracle) from the driver surface via toMap — fail loudly
  require(registry.map(_._1).distinct.size == registry.size,
    "duplicate query names: " + registry.map(_._1).groupBy(identity)
      .collect { case (n, os) if os.size > 1 => n }.mkString(", "))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Queries that run with post-shuffle partitions COALESCED BY BYTES
    * (`spark.sql.adaptive.coalescePartitions.parallelismFirst=false`,
    * guide §2.2): AQE then merges small shuffle outputs toward the
    * advisory size instead of preserving one partition per core, so a
    * KB-sized micro-batch fold or a small intermediate stops paying 32
    * tasks of scheduling per exchange — and at 100 TB the SAME setting
    * yields advisory-sized (~64 MB) partitions, the guide's
    * recommended posture, so this is not a local-only knob. It is
    * OPT-IN per query because coalescing also serializes
    * compute-bound-but-byte-light stages (measured r20: the per-pair
    * explode of q_assoc_rules 1.20 → 2.50 s, the media codec aggs,
    * min-label CC rounds whose checkpointed co-partitioning it breaks)
    * — the r20 three-chunk A/B record (OPTIMIZATION_r20.md) lists the
    * per-query evidence; only CONSISTENT winners are here (streaming
    * replay folds, whose per-epoch joins move KBs across several
    * exchanges, and batch queries with small keyed intermediates).
    * Names unknown to the registry are caught by the require below. */
  private val CoalesceByBytes: Set[String] = Set(
    // streaming replay gates: per-epoch foreachBatch folds + stateful
    // joins over KB slices (measured 0.61–0.90× across two A/B chunks)
    "q_stream_full_outer", "q_stream_ingest", "q_stream_ingest_hier",
    "q_stream_ingest_remove", "q_stream_ingest_srp", "q_stream_join",
    "q_stream_late", "q_stream_mg", "q_stream_outer", "q_stream_rebuild",
    // batch queries with small keyed intermediates (0.73–0.87×, ≥80 ms)
    "q_sorted_neighborhood", "q_span_coverage", "q_tfidf", "q_tpch_q18",
    "q_tpch_q8", "q_curation_lsh", "q_decontaminate_bloom",
    "q_data_checks", "q_heavy_hitters", "q_semdedup_hier",
    "q_interval_join", "q_join_broadcast", "q_sessionize",
    "q_sliding_1h_15m", "q_curate_e2e", "q_bpe_train",
    // boundary set re-measured quiet (r20, two agreeing subset runs
    // after two conflicting chunk observations): entity 0.77, star
    // 0.85, incremental-CC 0.88 — these three CC-family paths WIN
    // (their fuzzy-join / contraction intermediates are byte-light);
    // the min-label rounds of q_dedup_clusters/q_label_prop/q_pagerank
    // LOSE (1.1–1.5×, coalescing breaks the checkpointed round
    // co-partitioning) and stay at Spark's default
    "q_entity_clusters", "q_star_clusters", "q_incremental_cc")

  require(CoalesceByBytes.subsetOf(registry.map(_._1).toSet),
    "CoalesceByBytes names unknown queries: " +
      (CoalesceByBytes -- registry.map(_._1)).mkString(", "))

  private val ParallelismFirstKey =
    "spark.sql.adaptive.coalescePartitions.parallelismFirst"

  /** One entry per implemented operator from SURVEY.md §2. Every entry
    * pins [[ParallelismFirstKey]] for its own run (winners `false`,
    * everyone else Spark's default `true`) — set unconditionally so one
    * query's value can never leak into the next query on the shared
    * session. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, d) =>
      n -> { (s: SparkSession, dir: String) =>
        s.conf.set(ParallelismFirstKey, (!CoalesceByBytes.contains(n)).toString)
        d.fn(s, dir)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map { case (n, d) => n -> d.oracle }.toMap
}
