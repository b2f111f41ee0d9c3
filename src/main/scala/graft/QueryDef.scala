package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable unit of engine surface: a Spark query over the driver's
  * parquet tables plus its DuckDB oracle. Every query has one — the
  * `oracle` is a plain String, so an unverified entry cannot be built.
  *
  * Column names AND types must line up between `fn`'s result and the
  * oracle (the driver sorts columns by name before hashing values), so
  * every computed column is aliased identically on both sides and
  * integer-ish outputs are BIGINT on both sides.
  */
final class QueryDef private (
    val fn: (SparkSession, String) => DataFrame,
    val oracle: String)

object QueryDef {
  def apply(fn: (SparkSession, String) => DataFrame, sql: String): QueryDef =
    new QueryDef(fn, sql.stripMargin.trim)
}
