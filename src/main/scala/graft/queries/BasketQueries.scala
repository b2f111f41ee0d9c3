package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.ColFns._
import graft.operators.{AssocRules, TopK}
import OracleSql.decimalSum

/** The reference's three analytics queries (SURVEY §0), re-expressed on
  * the driver's star schema: an order is the "billing" (basket), a part
  * is the "item", `l_shipdate` the date.
  *
  *  - q_top5_month    ← ESERCIZIO 1 (top-5 best sellers per month)
  *  - q_revenue_month ← ESERCIZIO 2 (revenue per item per month)
  *  - q_assoc_rules   ← ESERCIZIO 3 (support/confidence item→item)
  */
object BasketQueries {

  /** Support and confidence of every directed item pair that shares an
    * order (ESERCIZIO 3): one oracle for both engine formulations.
    * Declared before `defs` (init order). */
  private val AssocRulesSql =
    sql"""WITH items AS (SELECT DISTINCT l_orderkey AS bid, l_partkey AS item FROM lineitem),
      |tot AS (SELECT count(DISTINCT bid) AS total_baskets FROM items),
      |ic AS (SELECT item, count(*) AS antecedent_cnt FROM items GROUP BY 1),
      |pc AS (SELECT a.item AS x, b.item AS y, count(*) AS pair_cnt
      |       FROM items a JOIN items b ON a.bid = b.bid AND a.item < b.item
      |       GROUP BY 1, 2),
      |dir AS (SELECT x AS antecedent, y AS consequent, pair_cnt FROM pc
      |        UNION ALL
      |        SELECT y AS antecedent, x AS consequent, pair_cnt FROM pc)
      |SELECT d.antecedent, d.consequent, d.pair_cnt,
      |       d.pair_cnt / (SELECT total_baskets FROM tot) AS support,
      |       d.pair_cnt / ic.antecedent_cnt AS confidence
      |FROM dir d JOIN ic ON ic.item = d.antecedent"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // ESERCIZIO 1. Plan: scan(2 cols) → hash agg (1 shuffle) → native
    // two-phase bounded-heap top-k (1 shuffle of O(groups·k), NO sorts).
    // Adopted over the window/WindowGroupLimit formulation on measured
    // wins at every shape (SURVEY.md §8 addendum — round 4, sf0.1
    // steady: this exact input 1.32→0.96 s; RefScaleBench 1M lines:
    // 1.10→0.82 s) — the window path sorts each map partition AND
    // re-sorts after the exchange, the heap path sorts nothing. Row
    // sets are identical (same total tie-break); the positional rank
    // column is dropped on both sides (top-5 SET semantics, matching
    // the reference's unranked output —
    // rank itself stays exercised by q_topk_native/q_window_rankings).
    "q_top5_month" -> QueryDef(
      (s, dir) => {
        val monthly = Tables.lineitem(s, dir)
          .select(monthKey(col("l_shipdate")).as("month"), col("l_partkey"))
          .groupBy(col("month"), col("l_partkey"))
          .agg(count(lit(1)).as("cnt"))
        TopK.perGroupNative(monthly, Seq("month"), "cnt",
          Seq("l_partkey"), k = 5)
      },
      sql"""SELECT month, l_partkey, cnt FROM (
        |  SELECT month, l_partkey, cnt,
        |         row_number() OVER (PARTITION BY month ORDER BY cnt DESC, l_partkey) AS rn
        |  FROM (SELECT strftime(l_shipdate, '%Y-%m') AS month, l_partkey, count(*) AS cnt
        |        FROM lineitem GROUP BY 1, 2))
        |WHERE rn <= 5"""),

    // ESERCIZIO 2. Single shuffle, partial+final agg; canonical yyyy-MM
    // month key (SURVEY §2.7 Q6/Q8: real year from data, one format).
    "q_revenue_month" -> QueryDef(
      (s, dir) => Tables.lineitem(s, dir)
        .select(col("l_partkey"), monthKey(col("l_shipdate")).as("month"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_price"),
          col("l_quantity"))
        .groupBy(col("l_partkey"), col("month"))
        .agg(moneySum(col("disc_price"), 4).as("revenue"),
          sum(col("l_quantity")).as("sum_qty")),
      sql"""SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS month,
        |       ${decimalSum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
        |       sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1, 2"""),

    // ESERCIZIO 3 via the custom PairsGenerator over array-shaped
    // baskets (map-side pair-gen, no self-join) — same oracle as the
    // join formulation below: two implementations, one answer.
    "q_assoc_rules_gen" -> QueryDef(
      (s, dir) => AssocRules.rulesFromBasketArrays(
        Tables.lineitem(s, dir).groupBy(col("l_orderkey"))
          .agg(collect_set(col("l_partkey")).as("items")),
        "items"),
      AssocRulesSql),

    // ESERCIZIO 3 on order/part baskets. See AssocRules for the plan.
    "q_assoc_rules" -> QueryDef(
      (s, dir) => AssocRules.rules(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
        basketCol = "l_orderkey", itemCol = "l_partkey"),
      AssocRulesSql)
  )
}
