package graft.queries

import org.apache.spark.sql.SparkSession
import graft.{QueryDef, Tables}

/** Queries expressed through the `spark.sql` text interface (the engine's
  * SQL front door): correlated subquery decorrelation and a six-table
  * TPC-H-Q5-shaped join. Registering the parquet tables as temp views is
  * metadata-only; the plans are identical to the DataFrame formulations.
  */
object SqlQueries {

  private def views(s: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => Tables.load(s, dir, n).createOrReplaceTempView(n))

  val defs: Seq[(String, QueryDef)] = Seq(

    // Correlated scalar subquery → Catalyst rewrites to a decorrelated
    // aggregate + join. Decimal-exact per-nation mean on both sides.
    "q_correlated_subquery" -> QueryDef(
      (s, dir) => {
        views(s, dir, "customer")
        s.sql(
          """SELECT c_custkey, c_acctbal FROM customer c
            |WHERE c_acctbal > (
            |  SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
            |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin)
      },
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE c_acctbal > (
        |  SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)"""),

    // TPC-H Q5 shape (local-supplier volume in ASIA): six-table join,
    // two broadcast dims + three fact joins, decimal-exact revenue.
    "q_multi_join" -> QueryDef(
      (s, dir) => {
        views(s, dir, "region", "nation", "customer", "orders", "lineitem", "supplier")
        s.sql(
          """SELECT n_name,
            |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
            |       count(*) AS n_lines
            |FROM customer
            |JOIN orders   ON c_custkey = o_custkey
            |JOIN lineitem ON l_orderkey = o_orderkey
            |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
            |JOIN nation   ON c_nationkey = n_nationkey
            |JOIN region   ON n_regionkey = r_regionkey
            |WHERE r_name = 'ASIA'
            |GROUP BY n_name""".stripMargin)
      },
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       count(*) AS n_lines
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name"""),

    // ANSI three-valued-logic pin: IN / NOT IN against a subquery list
    // CONTAINING a NULL. The classic production trap is the third row:
    // `NOT IN (list with NULL)` is never TRUE (x <> NULL is UNKNOWN), so
    // n_notin_withnull must be 0 — both engines must agree on all four
    // counts, not just the intuitive two. NOT EXISTS is the
    // NULL-immune formulation (= anti join), pinned alongside.
    "q_not_in_nulls" -> QueryDef(
      (s, dir) => {
        views(s, dir, "customer", "nation")
        s.sql(NotInNullsSql)
      },
      NotInNullsSql)
  )

  // nullif(n_nationkey, 3) plants exactly one NULL in the subquery list
  private lazy val NotInNullsSql: String =
    """SELECT
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
      |                       AND n_nationkey < 5)) AS n_notexists""".stripMargin
}
