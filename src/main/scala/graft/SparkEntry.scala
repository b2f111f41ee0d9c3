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

  private val ParallelismFirstKey =
    "spark.sql.adaptive.coalescePartitions.parallelismFirst"

  /** One entry per implemented operator from SURVEY.md §2. Every entry
    * pins [[ParallelismFirstKey]] for its own run (`false` where the
    * query opts into [[QueryDef.coalesceByBytes]], Spark's default
    * `true` everywhere else) — set unconditionally so one query's value
    * can never leak into the next query on the shared session. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, d) =>
      n -> { (s: SparkSession, dir: String) =>
        s.conf.set(ParallelismFirstKey, (!d.coalesceByBytes).toString)
        d.fn(s, dir)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map { case (n, d) => n -> d.oracle }.toMap
}
