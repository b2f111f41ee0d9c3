package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.ColFns._
import OracleSql.decimalSum

/** Join surface: broadcast star-join, shuffle fact-fact join, semi/anti
  * (EXISTS / NOT EXISTS), and union. The reference has exactly one join
  * (a reduce-side equi-join in disguise, SURVEY §2.6); everything here is
  * the general capability a user would expect, planned Spark-first.
  */
object JoinQueries {

  /** FuzzyJoin.selfJoin's replay over customer names (a, b): blocked
    * on the name minus its last two chars, ordered, edit distance ≤ 1. */
  private val FuzzyNameMatch =
    sql"""FROM customer a JOIN customer b
      |  ON substr(a.c_name, 1, length(a.c_name) - 2) = substr(b.c_name, 1, length(b.c_name) - 2)
      | AND a.c_name < b.c_name
      |WHERE levenshtein(a.c_name, b.c_name) <= 1"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // Dimension star-join: nation/region are vocabulary-sized at ANY
    // scale factor → explicit broadcast is correct even at 100 TB.
    "q_join_broadcast" -> QueryDef(
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val n = Tables.nation(s, dir)
        val r = Tables.region(s, dir)
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_cust"),
            moneySum(col("c_acctbal"), 2).as("total_bal"))
      },
      sql"""SELECT r_name, n_name, count(*) AS n_cust,
        |       ${decimalSum("c_acctbal", 2)} AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""", coalesceByBytes = true),

    // Fact-fact join: both sides shuffle on the join key; partial agg
    // happens below the join output's group-by. At 100 TB this is the
    // classic co-partitioned hash join AQE tunes (skew split + coalesce).
    "q_join_shuffle" -> QueryDef(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val li = Tables.lineitem(s, dir)
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_orderpriority"), monthKey(col("o_orderdate")).as("month"))
          .agg(
            moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
            countDistinct(col("o_orderkey")).as("n_orders"),
            count(lit(1)).as("n_lines"))
      },
      sql"""SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS month,
        |       ${decimalSum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
        |       count(DISTINCT o_orderkey) AS n_orders,
        |       count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2"""),

    // EXISTS → left-semi: no row multiplication, build side streams.
    "q_semi_join" -> QueryDef(
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir).select(col("o_custkey"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"))
      },
      sql"""SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment"""),

    // NOT EXISTS → left-anti (orders with no lineitems — non-empty in
    // the driver data, unlike customers-without-orders).
    "q_anti_join" -> QueryDef(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val li = Tables.lineitem(s, dir).select(col("l_orderkey"))
        o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      },
      sql"""SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)"""),

    // LEFT OUTER join with NULL-extension semantics exercised: every
    // customer is kept, customers with no big order (202 at sf0.01) get
    // n_big_orders = 0 and a NULL spend. The filter on the right side is
    // pushed below the join; the join itself shuffles on custkey.
    "q_left_join" -> QueryDef(
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(count(col("o_orderkey")).as("n_big_orders"),
            moneySum(col("o_totalprice"), 2).as("big_spend"))
      },
      sql"""SELECT c_custkey, c_name, count(o_orderkey) AS n_big_orders,
        |       ${decimalSum("o_totalprice", 2)} AS big_spend
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        |  ON c_custkey = o_custkey
        |GROUP BY 1, 2"""),

    // FULL OUTER join: high-balance customers vs customers with big
    // orders — mismatches exist in BOTH directions, so both NULL
    // extensions are exercised (and hash-checked; nullable BIGINT reads
    // as float64 on both sides of the driver's compare, consistently).
    "q_full_join" -> QueryDef(
      (s, dir) => {
        val hc = Tables.customer(s, dir).filter(col("c_acctbal") > 9000)
          .select(col("c_custkey"), col("c_name"))
        val ho = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_big_orders"),
            moneySum(col("o_totalprice"), 2).as("big_spend"))
        hc.join(ho, hc("c_custkey") === ho("o_custkey"), "full")
          .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            col("c_name"), col("n_big_orders"), col("big_spend"))
      },
      sql"""WITH hc AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000),
        |ho AS (SELECT o_custkey, count(*) AS n_big_orders,
        |              ${decimalSum("o_totalprice", 2)} AS big_spend
        |       FROM orders WHERE o_totalprice > 400000 GROUP BY 1)
        |SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_name, n_big_orders, big_spend
        |FROM hc FULL JOIN ho ON c_custkey = o_custkey"""),

    // INTERSECT (distinct set semantics): customers active in both 1997
    // and 1998. Plans as a left-semi over distinct keys — one shuffle
    // per side on the set key, no row multiplication.
    "q_intersect" -> QueryDef(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        o.filter(year(col("o_orderdate")) === 1997).select(col("o_custkey").as("custkey"))
          .intersect(
            o.filter(year(col("o_orderdate")) === 1998).select(col("o_custkey").as("custkey")))
      },
      sql"""SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1998"""),

    // EXCEPT (distinct set semantics): 1997 buyers who went quiet in 1998.
    "q_except" -> QueryDef(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        o.filter(year(col("o_orderdate")) === 1997).select(col("o_custkey").as("custkey"))
          .except(
            o.filter(year(col("o_orderdate")) === 1998).select(col("o_custkey").as("custkey")))
      },
      sql"""SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1998"""),

    // Union of heterogeneous entities into one keyed stream.
    "q_union" -> QueryDef(
      (s, dir) => {
        val c = Tables.customer(s, dir).select(
          lit("customer").as("kind"), col("c_custkey").as("entity_key"),
          col("c_name").as("name"), col("c_acctbal").as("acctbal"))
        val su = Tables.supplier(s, dir).select(
          lit("supplier").as("kind"), col("s_suppkey").as("entity_key"),
          col("s_name").as("name"), col("s_acctbal").as("acctbal"))
        c.unionAll(su)
      },
      sql"""SELECT 'customer' AS kind, c_custkey AS entity_key, c_name AS name, c_acctbal AS acctbal FROM customer
        |UNION ALL
        |SELECT 'supplier' AS kind, s_suppkey AS entity_key, s_name AS name, s_acctbal AS acctbal FROM supplier"""),

    // Blocked fuzzy self-join (operators/FuzzyJoin): customer-name pairs
    // within 1 Levenshtein edit. The block key (all but the last 2
    // chars) bounds candidates to Σ|block|² — the entity-resolution
    // analogue of the LSH bucket caps; the oracle replays the identical
    // blocking + DuckDB's own levenshtein().
    "q_fuzzy_names" -> QueryDef(
      (s, dir) => graft.operators.FuzzyJoin.selfJoin(
        Tables.customer(s, dir), "c_custkey", "c_name",
        blockKey = expr("substring(c_name, 1, length(c_name) - 2)"),
        maxDist = 1)
        .select(col("id1"), col("s1"), col("id2"), col("s2"), col("dist")),
      sql"""SELECT a.c_custkey AS id1, a.c_name AS s1,
        |       b.c_custkey AS id2, b.c_name AS s2,
        |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |$FuzzyNameMatch"""),

    // Entity resolution end to end: blocked fuzzy matches become edges,
    // connected components assigns each customer a canonical entity id
    // (min key in its match closure) — the dedup-clusters discipline
    // applied to entities instead of documents. The oracle replays
    // blocking + levenshtein + the recursive closure.
    "q_entity_clusters" -> QueryDef(
      (s, dir) => {
        val cust = Tables.customer(s, dir)
        val pairs = graft.operators.FuzzyJoin.selfJoin(
            cust, "c_custkey", "c_name",
            blockKey = expr("substring(c_name, 1, length(c_name) - 2)"),
            maxDist = 1)
          .select(col("id1"), col("id2"))
        graft.operators.Dedup.connectedComponents(
          pairs, cust.select(col("c_custkey")), "c_custkey")
      },
      sql"""WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS id1, b.c_custkey AS id2
        |  $FuzzyNameMatch),
        |${OracleSql.closureCtes("pairs", "c_custkey", "customer")}
        |${OracleSql.clusterIds("c_custkey")}""", coalesceByBytes = true),

    // Bloom-prefiltered semi join (operators/BloomJoin): lineitems of
    // one nation's suppliers, aggregated per returnflag. The bloom over
    // the ~40 supplier keys filters the fact table MAP-SIDE before the
    // exact semi join — at 100 TB the prefilter drops ~96% of rows
    // before any shuffle. False positives are eliminated by the exact
    // join, so the oracle is simply the plain IN-subquery form: the
    // hash match proves prefilter+join ≡ semi join.
    "q_bloom_semi_join" -> QueryDef(
      (s, dir) => {
        val sup = Tables.supplier(s, dir)
          .join(Tables.nation(s, dir).filter(col("n_name") === "NATION_3"),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        graft.operators.BloomJoin.semiJoin(
          Tables.lineitem(s, dir), col("l_suppkey"), sup, col("s_suppkey"),
          expectedItems = 1000L)
          .groupBy(col("l_returnflag"))
          .agg(graft.functions.ColFns.moneySum(
            col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      sql"""SELECT l_returnflag,
        |       ${decimalSum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |                    JOIN nation ON s_nationkey = n_nationkey
        |                    WHERE n_name = 'NATION_3')
        |GROUP BY l_returnflag"""),

    // Join-skew diagnostic: per-key row counts on BOTH sides of a
    // planned join and the per-key output cardinality (their product),
    // top-20 offenders — the report read BEFORE shipping a fact-fact
    // join at 100 TB (a single key at 10⁶×10³ is a 10⁹-row task; this
    // is what decides salting). Two keyed counts + one tiny join; the
    // products are BIGINT-exact.
    "q_join_skew_report" -> QueryDef(
      (s, dir) => {
        val l = Tables.lineitem(s, dir).groupBy(col("l_orderkey").as("key"))
          .agg(count(lit(1)).as("n_left"))
        val r = Tables.orders(s, dir).groupBy(col("o_orderkey").as("key"))
          .agg(count(lit(1)).as("n_right"))
        l.join(r, Seq("key"))
          .select(col("key"), col("n_left"), col("n_right"),
            (col("n_left") * col("n_right")).as("out_rows"))
          .orderBy(col("out_rows").desc, col("key").asc)
          .limit(20)
      },
      sql"""WITH l AS (SELECT l_orderkey AS key, CAST(count(*) AS BIGINT) AS n_left
        |           FROM lineitem GROUP BY 1),
        |r AS (SELECT o_orderkey AS key, CAST(count(*) AS BIGINT) AS n_right
        |      FROM orders GROUP BY 1)
        |SELECT key, n_left, n_right,
        |       CAST(n_left * n_right AS BIGINT) AS out_rows
        |FROM l JOIN r USING (key)
        |ORDER BY out_rows DESC, key
        |LIMIT 20""")
  )
}
