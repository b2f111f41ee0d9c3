package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.ColFns._
import OracleSql.decimalSum

/** Core relational surface: scan → filter → aggregate, the pricing-summary
  * shape (TPC-H Q1-like) over the driver's `lineitem`.
  *
  * Scale notes: single shuffle (partial+final hash agg), grouping key
  * cardinality is tiny (flag × status), filter + column pruning reach the
  * parquet scan. This plan survives 100 TB unchanged — the shuffle moves
  * only |groups| × |partitions| pre-aggregated rows.
  */
object RelationalQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    "q1_agg" -> QueryDef(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        li.filter(col("l_shipdate") <= tsLit(li, "l_shipdate", "2000-12-01 00:00:00"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).as("sum_qty"),
            moneySum(col("l_extendedprice"), 2).as("sum_base_price"),
            moneySum(discPrice, 4).as("sum_disc_price"),
            moneySum(discPrice * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
            count(lit(1)).as("count_order"))
          .withColumn("avg_qty", col("sum_qty") / col("count_order"))
          .withColumn("avg_price", col("sum_base_price") / col("count_order"))
      },
      sql"""SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
        |       sum_charge, count_order,
        |       sum_qty / count_order AS avg_qty,
        |       sum_base_price / count_order AS avg_price
        |FROM (
        |  SELECT l_returnflag, l_linestatus,
        |         sum(l_quantity) AS sum_qty,
        |         ${decimalSum("l_extendedprice", 2)} AS sum_base_price,
        |         ${decimalSum("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
        |         ${decimalSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
        |         count(*) AS count_order
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |  GROUP BY l_returnflag, l_linestatus)""")
  )
}
