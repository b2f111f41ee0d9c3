package graft.queries

import org.apache.spark.sql.SparkSession
import graft.{QueryDef, Tables}
import OracleSql.{Q5AsiaJoin, decimalSum}

/** Queries expressed through the `spark.sql` text interface (the engine's
  * SQL front door): correlated subquery decorrelation and a six-table
  * TPC-H-Q5-shaped join. Registering the parquet tables as temp views is
  * metadata-only; the plans are identical to the DataFrame formulations.
  */
object SqlQueries {

  private def views(s: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => Tables.load(s, dir, n).createOrReplaceTempView(n))

  // each text runs on both sides, spark.sql and DuckDB; before `defs` (init order)

  private val CorrelatedSql =
    sql"""SELECT c_custkey, c_acctbal FROM customer c
      |WHERE c_acctbal > (
      |  SELECT ${decimalSum("c2.c_acctbal", 2)} / count(*)
      |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)"""

  private val MultiJoinSql =
    sql"""SELECT n_name,
      |       ${decimalSum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
      |       count(*) AS n_lines
      |$Q5AsiaJoin
      |GROUP BY n_name"""

  // nullif(n_nationkey, 3) plants exactly one NULL in the subquery list
  private val NotInNullsSql: Sql =
    sql"""SELECT
      |  (SELECT count(*) FROM customer
      |   WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_nationkey < 5)) AS n_in,
      |  (SELECT count(*) FROM customer
      |   WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey < 5)) AS n_notin,
      |  (SELECT count(*) FROM customer
      |   WHERE c_nationkey IN (SELECT nullif(n_nationkey, 3) FROM nation WHERE n_nationkey < 5)) AS n_in_withnull,
      |  (SELECT count(*) FROM customer
      |   WHERE c_nationkey NOT IN (SELECT nullif(n_nationkey, 3) FROM nation WHERE n_nationkey < 5)) AS n_notin_withnull,
      |  (SELECT count(*) FROM customer c
      |   WHERE NOT EXISTS (SELECT 1 FROM nation
      |                     WHERE nullif(n_nationkey, 3) = c.c_nationkey
      |                       AND n_nationkey < 5)) AS n_notexists"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // Correlated scalar subquery → Catalyst rewrites to a decorrelated
    // aggregate + join. Decimal-exact per-nation mean on both sides.
    "q_correlated_subquery" -> QueryDef(
      (s, dir) => {
        views(s, dir, "customer")
        s.sql(CorrelatedSql.text)
      },
      CorrelatedSql),

    // TPC-H Q5 shape (local-supplier volume in ASIA): six-table join,
    // two broadcast dims + three fact joins, decimal-exact revenue.
    "q_multi_join" -> QueryDef(
      (s, dir) => {
        views(s, dir, "region", "nation", "customer", "orders", "lineitem", "supplier")
        s.sql(MultiJoinSql.text)
      },
      MultiJoinSql),

    // ANSI three-valued-logic pin: IN / NOT IN against a subquery list
    // CONTAINING a NULL. The classic production trap is the third row:
    // `NOT IN (list with NULL)` is never TRUE (x <> NULL is UNKNOWN), so
    // n_notin_withnull must be 0 — both engines must agree on all four
    // counts, not just the intuitive two. NOT EXISTS is the
    // NULL-immune formulation (= anti join), pinned alongside.
    "q_not_in_nulls" -> QueryDef(
      (s, dir) => {
        views(s, dir, "customer", "nation")
        s.sql(NotInNullsSql.text)
      },
      NotInNullsSql)
  )
}
