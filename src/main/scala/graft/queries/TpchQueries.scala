package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.ColFns._
import OracleSql.{Q5AsiaJoin, decimalSum}

/** Join-heavy TPC-H-shaped analytics (Q3 / Q18 forms adapted to the
  * driver's schema — no o_shippriority/p_* columns here). These exist to
  * exercise the planner patterns that matter at 100 TB: selective
  * dimension filters feeding fact joins, aggregation above a multi-join,
  * and global top-k planned as TakeOrderedAndProject (pinned in
  * PlanAuditSpec) instead of a full sort.
  *
  * All money/quantity sums go through the decimal-cast (`moneySum`) so
  * the top-k ordering and the oracle hash are bit-stable.
  */
object TpchQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // TPC-H Q3 shape (shipping priority): revenue of still-open orders
    // for one market segment, top-10 by revenue. The segment filter cuts
    // customer ~5× before the join; date filters push to both scans;
    // the limit plans as TakeOrderedAndProject (no global sort).
    // Tie-break: (revenue DESC, o_orderdate, l_orderkey) — total, since
    // l_orderkey is unique per group.
    "q_tpch_q3" -> QueryDef(
      (s, dir) => {
        val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate") < to_timestamp(lit("1996-07-01")))
        val li = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") > to_timestamp(lit("1996-07-01")))
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
          .limit(10)
          .select(col("l_orderkey"), col("revenue"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
            col("o_orderpriority"))
      },
      sql"""SELECT l_orderkey,
        |       ${decimalSum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderpriority
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND l_shipdate  > TIMESTAMP '1996-07-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10"""),

    // TPC-H Q1 (pricing summary): the canonical scan-heavy aggregate —
    // one pushed-down date filter, one 4-group hash agg, eight decimal-
    // exact aggregates. Averages are (exact decimal sum as double) /
    // (exact count): a single IEEE division, bit-stable in both engines.
    "q_tpch_q1" -> QueryDef(
      (s, dir) => {
        val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") <= to_timestamp(lit("2001-05-01")))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            moneySum(col("l_quantity"), 2).as("sum_qty"),
            moneySum(col("l_extendedprice"), 2).as("sum_base_price"),
            moneySum(disc, 4).as("sum_disc_price"),
            moneySum(disc * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
            (moneySum(col("l_quantity"), 2) / count(lit(1))).as("avg_qty"),
            (moneySum(col("l_extendedprice"), 2) / count(lit(1))).as("avg_price"),
            (moneySum(col("l_discount"), 2) / count(lit(1))).as("avg_disc"),
            count(lit(1)).as("count_order"))
      },
      sql"""SELECT l_returnflag, l_linestatus,
        |       ${decimalSum("l_quantity", 2)} AS sum_qty,
        |       ${decimalSum("l_extendedprice", 2)} AS sum_base_price,
        |       ${decimalSum("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
        |       ${decimalSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
        |       ${decimalSum("l_quantity", 2)} / count(*) AS avg_qty,
        |       ${decimalSum("l_extendedprice", 2)} / count(*) AS avg_price,
        |       ${decimalSum("l_discount", 2)} / count(*) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-05-01'
        |GROUP BY l_returnflag, l_linestatus"""),

    // TPC-H Q18 shape (large-volume customers): orders whose total
    // lineitem quantity exceeds 300, with customer attribution, top-100
    // by order value. The HAVING pre-aggregate runs BEFORE any join —
    // at scale the heavy lineitem aggregation reduces to a tiny set of
    // keys, and only those rows join to orders/customer.
    "q_tpch_q18" -> QueryDef(
      (s, dir) => {
        val big = Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey"))
          .agg(moneySum(col("l_quantity"), 2).as("total_qty"))
          .filter(col("total_qty") > 300)
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        o.join(big, o("o_orderkey") === big("l_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
            col("o_totalprice"), col("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(100)
      },
      sql"""WITH big AS (
        |  SELECT l_orderkey,
        |         ${decimalSum("l_quantity", 2)} AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING total_qty > 300
        |)
        |SELECT c_name, c_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       o_totalprice, total_qty
        |FROM orders
        |JOIN big      ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""", coalesceByBytes = true),

    // TPC-H Q5 shape (local-supplier volume): revenue per nation for one
    // region and one order year, where the supplier and the customer are
    // in the SAME nation. Planner story: region (5 rows) and nation (25)
    // broadcast into customer/supplier, the c_nationkey = s_nationkey
    // equi-constraint rides the join condition (never a post-filter over
    // a wider join), and only the two fact tables shuffle. The date
    // filter pushes to the orders scan.
    "q_tpch_q5" -> QueryDef(
      (s, dir) => {
        val asiaNations = Tables.nation(s, dir)
          .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val c = Tables.customer(s, dir)
          .join(asiaNations, col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1997-01-01")))
          .select(col("o_orderkey"), col("o_custkey"))
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"))
        val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(sup, li("l_suppkey") === sup("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
          .groupBy(col("n_name"))
          .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"))
          .select(col("n_name"), col("revenue"))
      },
      sql"""SELECT n_name,
        |       ${decimalSum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
        |$Q5AsiaJoin
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY n_name"""),

    // TPC-H Q6 (forecast revenue change): the pure-scan query — every
    // predicate pushes to the parquet scan (shipdate range, discount
    // band, quantity cap), then ONE partial+final agg with no shuffle of
    // row data at all. At 100 TB this is the query that proves pushdown:
    // a date-partitioned layout would prune to 1/7 of the files before
    // the first byte is read.
    "q_tpch_q6" -> QueryDef(
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(moneySum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
          count(lit(1)).as("n_items")),
      sql"""SELECT ${decimalSum("l_extendedprice * l_discount", 4)} AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount >= CAST(0.05 AS DOUBLE) AND l_discount <= CAST(0.07 AS DOUBLE)
        |  AND l_quantity < 24"""),

    // TPC-H Q4 shape (order-priority checking): orders with at least one
    // returned line, counted per priority. EXISTS plans as a LEFT SEMI
    // join — no dedup of the fact side, no row multiplication, and the
    // returnflag filter pushes below the join. (The driver schema has no
    // l_commitdate/l_receiptdate, so "late" is re-expressed as
    // l_returnflag = 'R'.)
    "q_tpch_q4" -> QueryDef(
      (s, dir) => Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
            .select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count")),
      sql"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority"""),

    // TPC-H Q12 shape (shipping modes / priority): one fact-fact join,
    // conditional-sum pivot on the priority class. Counts stay BIGINT on
    // both sides (the DuckDB HUGEINT trap). l_returnflag stands in for
    // the missing l_shipmode.
    "q_tpch_q12" -> QueryDef(
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")))
        .select(col("l_orderkey"), col("l_returnflag"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count")),
      sql"""SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag"""),

    // TPC-H Q10 shape (returned-item reporting): revenue lost to returns
    // per customer over one order year, top 20. Nation (25 rows)
    // broadcasts; the returnflag + date filters cut both fact sides
    // before the join; the limit plans as TakeOrderedAndProject.
    // Tie-break: revenue DESC then c_custkey (unique).
    "q_tpch_q10" -> QueryDef(
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1997-01-01")))
          .select(col("o_orderkey"), col("o_custkey"))
        val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        val n = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
          .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey").asc)
          .limit(20)
      },
      sql"""SELECT c_custkey, c_name, c_acctbal, n_name,
        |       ${decimalSum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""")
  )
}
