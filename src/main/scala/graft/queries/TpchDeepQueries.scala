package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.ColFns._
import OracleSql.decimalSum

/** TPC-H wave 3 — the remaining classic planner patterns expressible on
  * the driver schema (no partsupp table, no l_commitdate/l_receiptdate/
  * l_shipmode/p_container columns; adaptations are noted per query).
  * Reference semantics: TPC-H specification rev 3.0 (public); the
  * reference repo's own workload (BD_hw1 `spark/TopFive.java`,
  * `spark/SupportAndConfidence.java`) stops at single-fact aggregations,
  * so these exist to prove the JOIN-planner surface at 100 TB:
  *
  *  - Q7  two-dimension-alias join (the same tiny table joined twice
  *         under different roles) + disjunctive pair predicate
  *  - Q8  conditional market share above a 7-way join, single IEEE
  *         division of two exact decimal sums
  *  - Q13 LEFT OUTER join with the filter in the JOIN CONDITION (a
  *         WHERE would turn it inner) + double aggregation
  *  - Q14 conditional-numerator ratio on one month of fact data
  *  - Q15 scalar-max subquery against a derived revenue view (the view
  *         computes once; the max broadcasts back over it)
  *  - Q17 correlated per-key average threshold (agg once per part, then
  *         re-join the fact — never a window over the raw fact)
  *  - Q19 OR-of-ANDs disjunctive predicate riding a fact⋈dim join
  *  - Q21 exists/not-exists over the same fact re-expressed as ONE
  *         grouped aggregation (no double self-join of lineitem)
  *  - Q22 anti join + global scalar threshold
  *
  * All money sums go through `moneySum` (decimal-exact, order-free);
  * ratios/averages are a SINGLE IEEE division of exactly-reproducible
  * operands (the q_tpch_q1 avg pattern); counts stay BIGINT both sides.
  */
object TpchDeepQueries {

  /** TPC-H Q2/Q11 over the deterministic [[graft.sources.PartSuppGen]]
    * synthesis — closes the "no partsupp table" coverage gap. The oracle
    * regenerates partsupp as a pure-SQL CTE (id arithmetic only), so the
    * hash match proves BOTH the generator parity and the query. */
  private val PartsuppCte =
    sql"""ps AS (
      |  SELECT p.p_partkey AS ps_partkey,
      |         CAST((p.p_partkey + i.i * (sc.s // 4)) % sc.s AS BIGINT) AS ps_suppkey,
      |         CAST(1 + (p.p_partkey * 7 + i.i * 13) % 9999 AS BIGINT) AS ps_availqty,
      |         CAST(1 + (p.p_partkey * 11 + i.i * 17) % 1000 AS BIGINT) AS ps_supplycost
      |  FROM part p
      |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) i
      |  CROSS JOIN (SELECT count(*) AS s FROM supplier) sc)"""

  private val partsuppDefs: Seq[(String, QueryDef)] = Seq(

    // Q2 (min-cost supplier): suppliers/nations/regions are dimensions →
    // broadcast; the per-part min and the min-match join are keyed on
    // ps_partkey (the partsupp fact's natural key), so the only shuffles
    // are partkey-clustered — the 100 TB shape. No LIMIT: the full
    // min-cost set hash-verifies without an order.
    "q_tpch_q2" -> QueryDef(
      (s, dir) => {
        val ps = graft.sources.PartSuppGen.partsupp(s, dir)
        val nat = Tables.nation(s, dir)
        val reg = Tables.region(s, dir).filter(col("r_name") === "EUROPE")
        val snr = Tables.supplier(s, dir)
          .join(broadcast(nat.join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_acctbal"), col("s_name"), col("n_name"))
        val psEu = graft.Caching.persistTracked(
          ps.join(broadcast(snr), ps("ps_suppkey") === snr("s_suppkey")))
        // derived-from-same-frame join: alias the grouped key so the
        // analyzer never sees two lineages of ps_partkey
        val minCost = psEu.groupBy(col("ps_partkey").as("mc_partkey"))
          .agg(min(col("ps_supplycost")).as("min_cost"))
        val pSel = Tables.part(s, dir)
          .filter(col("p_size") <= 15 && col("p_type") === "SMALL")
          .select(col("p_partkey"), col("p_brand"))
        psEu.join(minCost,
            col("ps_partkey") === col("mc_partkey") &&
              col("ps_supplycost") === col("min_cost"))
          .join(pSel, col("ps_partkey") === col("p_partkey"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("p_brand"), col("ps_supplycost"))
      },
      sql"""WITH $PartsuppCte
        |SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand, ps.ps_supplycost
        |FROM part p
        |JOIN ps ON ps.ps_partkey = p.p_partkey
        |JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE p.p_size <= 15 AND p.p_type = 'SMALL' AND r.r_name = 'EUROPE'
        |  AND ps.ps_supplycost = (
        |    SELECT min(ps2.ps_supplycost) FROM ps ps2
        |    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        |    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        |    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        |    WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE')"""),

    // Q11 (important stock): per-part value sums are exact BIGINTs (the
    // generator keeps cost/qty integral — no decimal discipline needed),
    // and the HAVING fraction is the all-integer cross-multiplication
    // value·200 > total (= value > 0.5% of total). The global total
    // rides a 1-row broadcast, the AssocRules global-count pattern.
    "q_tpch_q11" -> QueryDef(
      (s, dir) => {
        val ps = graft.sources.PartSuppGen.partsupp(s, dir)
        val suppIn = Tables.supplier(s, dir)
          .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_7")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        val v = ps.join(broadcast(suppIn), ps("ps_suppkey") === col("s_suppkey"))
          .groupBy(col("ps_partkey"))
          .agg(sum(col("ps_supplycost") * col("ps_availqty")).as("value"))
        val tot = v.agg(sum(col("value")).as("t"))
        v.crossJoin(broadcast(tot))
          .filter(col("value") * 200 > col("t"))
          .select(col("ps_partkey"), col("value"))
      },
      sql"""WITH $PartsuppCte,
        |v AS (
        |  SELECT ps.ps_partkey, CAST(sum(ps.ps_supplycost * ps.ps_availqty) AS BIGINT) AS value
        |  FROM ps JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  WHERE n.n_name = 'NATION_7'
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(value) AS BIGINT) AS t FROM v)
        |SELECT ps_partkey, value FROM v CROSS JOIN tot WHERE value * 200 > t""")
  )

  val defs: Seq[(String, QueryDef)] = Seq(

    // Q7 (volume shipping): revenue shipped between two specific nations,
    // by supplier-nation/customer-nation/year. nation joins twice under
    // two roles (n1 = supplier's, n2 = customer's); both alias frames are
    // pre-filtered to the 2-nation universe so they broadcast, and the
    // cross-pair disjunction ((A,B) or (B,A)) is applied where both
    // sides are first available — after the supplier join — never as a
    // post-aggregation filter. year() is computed once in a projection.
    "q_tpch_q7" -> QueryDef(
      (s, dir) => {
        val two = Seq("NATION_1", "NATION_2")
        val n1 = Tables.nation(s, dir).filter(col("n_name").isin(two: _*))
          .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, dir).filter(col("n_name").isin(two: _*))
          .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
        val sup = Tables.supplier(s, dir)
          .join(n1, col("s_nationkey") === col("n1_key"))
          .select(col("s_suppkey"), col("supp_nation"))
        val cust = Tables.customer(s, dir)
          .join(n2, col("c_nationkey") === col("n2_key"))
          .select(col("c_custkey"), col("cust_nation"))
        val li = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1998-01-01")))
          .select(col("l_orderkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"), col("l_shipdate"))
        val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey") &&
            ((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
             (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1")))
          .select(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("volume"))
          .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
          .agg(moneySum(col("volume"), 4).as("revenue"))
      },
      sql"""SELECT supp_nation, cust_nation, l_year,
        |       ${decimalSum("volume", 4)} AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |         l_extendedprice * (1.0 - l_discount) AS volume
        |  FROM supplier
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders   ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01'
        |) shipping
        |GROUP BY supp_nation, cust_nation, l_year"""),

    // Q8 (national market share): fraction of a region's PROMO order
    // volume supplied by one nation, per order year. Two nation roles
    // again (n1 qualifies the CUSTOMER region and is dropped after the
    // region filter; n2 names the SUPPLIER nation and survives to the
    // conditional sum). mkt_share = (decimal sum as double) / (decimal
    // sum as double) — numerator and denominator are each order-free
    // exact, then ONE IEEE division (q_tpch_q1 avg pattern).
    "q_tpch_q8" -> QueryDef(
      (s, dir) => {
        val regionCust = Tables.customer(s, dir)
          .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
          .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("c_custkey"))
        val suppNation = Tables.supplier(s, dir)
          .join(Tables.nation(s, dir).select(col("n_nationkey"),
            col("n_name").as("supp_nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("supp_nation"))
        val promoParts = Tables.part(s, dir).filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1998-01-01")))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"))
          .join(promoParts, col("l_partkey") === col("p_partkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(regionCust, col("o_custkey") === col("c_custkey"))
          .join(suppNation, col("l_suppkey") === col("s_suppkey"))
          .select(year(col("o_orderdate")).cast("long").as("o_year"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("volume"),
            col("supp_nation"))
          .groupBy(col("o_year"))
          .agg((moneySum(when(col("supp_nation") === "NATION_5", col("volume"))
              .otherwise(lit(0.0)), 4) / moneySum(col("volume"), 4))
            .as("mkt_share"))
      },
      sql"""SELECT o_year,
        |       ${decimalSum("CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE CAST(0 AS DOUBLE) END", 4)}
        |       / ${decimalSum("volume", 4)} AS mkt_share
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         l_extendedprice * (1.0 - l_discount) AS volume,
        |         n2.n_name AS supp_nation
        |  FROM part
        |  JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region    ON n1.n_regionkey = r_regionkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate <  TIMESTAMP '1998-01-01'
        |    AND p_type = 'PROMO'
        |) all_nations
        |GROUP BY o_year""", coalesceByBytes = true),

    // Q13 (customer order distribution): how many customers placed k
    // orders. The priority filter lives in the LEFT JOIN CONDITION — in
    // a WHERE it would erase the zero-order customers the query exists
    // to count. count(o_orderkey) (not count(*)) so NULL right sides
    // count as 0. Double aggregation: per-customer, then per-count.
    "q_tpch_q13" -> QueryDef(
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey"))
        Tables.customer(s, dir).select(col("c_custkey"))
          .join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      },
      sql"""SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey
        |) c_orders
        |GROUP BY c_count"""),

    // Q14 (promo revenue): share of one month's revenue from PROMO
    // parts, scaled to a percentage. Part broadcasts behind the pushed
    // one-month shipdate window; numerator and denominator come off the
    // SAME joined pass (no second scan); ×100 and the division follow
    // the identical op order on both engines.
    "q_tpch_q14" -> QueryDef(
      (s, dir) => {
        val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-09-01")) &&
            col("l_shipdate") < to_timestamp(lit("1996-10-01")))
          .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
          .join(Tables.part(s, dir).select(col("p_partkey"), col("p_type")),
            col("l_partkey") === col("p_partkey"))
          .agg((lit(100.0) *
            (moneySum(when(col("p_type") === "PROMO", disc).otherwise(lit(0.0)), 4) /
             moneySum(disc, 4))).as("promo_revenue"))
      },
      sql"""SELECT CAST(100 AS DOUBLE) * (
        |       ${decimalSum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE CAST(0 AS DOUBLE) END", 4)}
        |     / ${decimalSum("l_extendedprice * (1.0 - l_discount)", 4)}) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate <  TIMESTAMP '1996-10-01'"""),

    // Q15 (top supplier): supplier(s) with the maximum quarterly
    // revenue. The revenue view aggregates lineitem ONCE — it is
    // Caching-tracked because BOTH the max side and the join side
    // consume it, and Spark's exchange reuse does not fire across the
    // two branches (verified: the un-persisted plan re-aggregates the
    // fact table twice). Its global max is a 1-row frame that
    // broadcasts back over the same view. Exact-double equality is
    // safe: both sides are the identical decimal-sum cast.
    "q_tpch_q15" -> QueryDef(
      (s, dir) => {
        val revenue = graft.Caching.persistTracked(Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1996-04-01")))
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("total_revenue")))
        val maxRev = revenue.agg(max(col("total_revenue")).as("max_revenue"))
        Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))
          .join(revenue, col("s_suppkey") === col("supplier_no"))
          .join(broadcast(maxRev), col("total_revenue") === col("max_revenue"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
          .orderBy(col("s_suppkey"))
      },
      sql"""WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         ${decimalSum("l_extendedprice * (1.0 - l_discount)", 4)} AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey"""),

    // Q17 (small-quantity-order revenue): lines whose quantity is below
    // 20% of their part's average. The correlated avg is ONE keyed agg
    // over lineitem re-joined on partkey — never a window over the raw
    // fact (the q_tfidf lesson). Threshold math is 0.2 × (exact decimal
    // sum as double / exact count): one division, one multiply, same op
    // order both engines. (p_container doesn't exist → p_size < 15.)
    "q_tpch_q17" -> QueryDef(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        val perPart = li.groupBy(col("l_partkey").as("agg_partkey"))
          .agg((lit(0.2) * (moneySum(col("l_quantity"), 2) / count(lit(1))))
            .as("qty_thr"))
        val parts = Tables.part(s, dir)
          .filter(col("p_brand") === "Brand#23" && col("p_size") < 15)
          .select(col("p_partkey"))
        li.join(parts, col("l_partkey") === col("p_partkey"))
          .join(perPart, col("l_partkey") === col("agg_partkey"))
          .filter(col("l_quantity") < col("qty_thr"))
          .agg((moneySum(col("l_extendedprice"), 2) / lit(7.0)).as("avg_yearly"),
            count(lit(1)).as("n_small"))
      },
      sql"""WITH pq AS (
        |  SELECT l_partkey AS agg_partkey,
        |         CAST(0.2 AS DOUBLE) * (${decimalSum("l_quantity", 2)} / count(*)) AS qty_thr
        |  FROM lineitem GROUP BY l_partkey
        |)
        |SELECT ${decimalSum("l_extendedprice", 2)} / CAST(7.0 AS DOUBLE) AS avg_yearly,
        |       CAST(count(*) AS BIGINT) AS n_small
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN pq   ON agg_partkey = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_size < 15
        |  AND l_quantity < qty_thr"""),

    // Q19 (discounted revenue): OR of three (brand, size-band,
    // quantity-band) conjunctions across the lineitem⋈part join. The
    // per-side halves of the disjunction (p_brand ∈ {..}, l_quantity
    // bounds) are derivable by Catalyst as pushed-down range filters on
    // each scan; the full disjunction evaluates post-join, codegen'd.
    "q_tpch_q19" -> QueryDef(
      (s, dir) => {
        val q = col("l_quantity"); val sz = col("p_size"); val b = col("p_brand")
        Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_discount"))
          .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"), col("p_size")),
            col("l_partkey") === col("p_partkey"))
          .filter(
            (b === "Brand#12" && sz.between(1, 5) && q >= 1 && q <= 11) ||
            (b === "Brand#23" && sz.between(1, 10) && q >= 10 && q <= 20) ||
            (b === "Brand#34" && sz.between(1, 15) && q >= 20 && q <= 30))
          .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      sql"""SELECT ${decimalSum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity >= 1  AND l_quantity <= 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity >= 10 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 20 AND l_quantity <= 30)"""),

    // Q21 (suppliers who kept orders waiting), adapted: "late" =
    // shipped >60 days after the order date (no l_receiptdate /
    // l_commitdate in this schema). The classic form double-self-joins
    // lineitem (EXISTS other-supplier line, NOT EXISTS other-supplier
    // LATE line); here both conditions collapse into TWO stacked
    // map-side-combinable aggs — per (order, supplier) first (any line
    // late?), then per order (supplier count, late-supplier count, the
    // lone late supplier) — NOT a multi-countDistinct single agg, which
    // would plan an Expand (3× the fact rows through the shuffle).
    // The DuckDB oracle runs the textbook EXISTS/NOT-EXISTS form, so
    // the hash match PROVES the grouped rewrite ≡ the correlated-
    // subquery semantics (the q_cdc_upsert proof pattern). At 100 TB
    // this is the difference between two lineitem shuffles + two joins
    // and one shuffle + two stacked aggs.
    "q_tpch_q21" -> QueryDef(
      (s, dir) => {
        val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
        val lines = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
          .join(Tables.orders(s, dir)
            .filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_suppkey"), late.as("late"))
        val perSupplier = lines
          .groupBy(col("l_orderkey"), col("l_suppkey"))
          .agg(max(col("late")).as("supp_late"))
        val culprit = perSupplier
          .groupBy(col("l_orderkey"))
          .agg(
            count(lit(1)).as("n_supp"),
            sum(when(col("supp_late"), 1L).otherwise(0L)).as("n_late_supp"),
            max(when(col("supp_late"), col("l_suppkey"))).as("culprit_supp"))
          .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
        culprit
          .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
            col("culprit_supp") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name").asc)
          .limit(20)
      },
      sql"""WITH l1 AS (
        |  SELECT l_orderkey, l_suppkey,
        |         (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM (
        |  SELECT l_orderkey, l_suppkey FROM l1 a WHERE late
        |    AND EXISTS (SELECT 1 FROM l1 b WHERE b.l_orderkey = a.l_orderkey AND b.l_suppkey <> a.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM l1 c WHERE c.l_orderkey = a.l_orderkey AND c.l_suppkey <> a.l_suppkey AND c.late)
        |  GROUP BY l_orderkey, l_suppkey
        |) w
        |JOIN supplier ON s_suppkey = l_suppkey
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20"""),

    // Q22 (global sales opportunity), adapted: "lapsed" wealthy
    // customers — above-average balance, in a 7-nation set, with NO
    // order since 2000 (the schema's customers all have SOME order, so
    // the textbook NOT EXISTS over all orders returns ∅; the date-
    // bounded anti join keeps the pattern and returns data). The scalar
    // average is a 1-row broadcast; the anti join's right side carries
    // the pushed o_orderdate filter so only recent orders shuffle.
    "q_tpch_q22" -> QueryDef(
      (s, dir) => {
        val nations = Seq(1, 3, 5, 7, 9, 11, 13).map(lit(_))
        val inSet = Tables.customer(s, dir)
          .filter(col("c_nationkey").isin(nations: _*))
          .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        val avgBal = inSet.filter(col("c_acctbal") > lit(0.0))
          .agg((moneySum(col("c_acctbal"), 2) / count(lit(1))).as("ab"))
        val recent = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
          .select(col("o_custkey"))
        inSet
          .join(broadcast(avgBal))
          .filter(col("c_acctbal") > col("ab"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey").as("cntrycode"))
          .agg(count(lit(1)).as("numcust"),
            moneySum(col("c_acctbal"), 2).as("totacctbal"))
      },
      sql"""WITH avg_bal AS (
        |  SELECT ${decimalSum("c_acctbal", 2)} / count(*) AS ab
        |  FROM customer
        |  WHERE c_acctbal > CAST(0 AS DOUBLE)
        |    AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
        |)
        |SELECT c_nationkey AS cntrycode,
        |       CAST(count(*) AS BIGINT) AS numcust,
        |       ${decimalSum("c_acctbal", 2)} AS totacctbal
        |FROM customer, avg_bal
        |WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
        |  AND c_acctbal > ab
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey"""),

    // Q9 (product-type profit measure) in its TRUE partsupp form (since
    // r10; p_retailprice stood in for supplycost before PartSuppGen):
    // profit = revenue − ps_supplycost·quantity for lineitems whose
    // (part, supplier) is a contracted partsupp pair. ps joined on BOTH
    // keys — partsupp is 4×|part| rows, so the ECONOMY-filtered ps⋈part
    // frame broadcasts into the fact; then orders attaches the year and
    // supplier→nation the group key. One decimal-exact sum over a ±
    // expression (profit can be negative — the decimal cast is
    // sign-correct).
    "q_tpch_q9" -> QueryDef(
      (s, dir) => {
        val profit = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          col("ps_supplycost") * col("l_quantity")
        val psEcon = graft.sources.PartSuppGen.partsuppOf(
            Tables.part(s, dir).filter(col("p_type") === "ECONOMY"), s, dir)
          .select(col("ps_partkey"), col("ps_suppkey"), col("ps_supplycost"))
        Tables.lineitem(s, dir)
          .join(broadcast(psEcon),
            col("l_partkey") === col("ps_partkey") &&
              col("l_suppkey") === col("ps_suppkey"))
          .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .join(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name")),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(moneySum(profit, 4).as("sum_profit"))
      },
      sql"""WITH $PartsuppCte
        |SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       ${decimalSum("l_extendedprice * (1.0 - l_discount) - ps_supplycost * l_quantity", 4)} AS sum_profit
        |FROM lineitem
        |JOIN ps       ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |JOIN part     ON l_partkey = p_partkey
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |WHERE p_type = 'ECONOMY'
        |GROUP BY n_name, year(o_orderdate)"""),

    // Q16 (parts/supplier relationship) in its TRUE partsupp form (since
    // r10; supplier↔part pairs came from lineitem before PartSuppGen):
    // distinct suppliers offering each (brand, type, size-set) part
    // class, with the "customer complaints" exclusion re-expressed as
    // s_acctbal < 0. The exclusion is an anti join BEFORE the distinct
    // agg; countDistinct above a dim⋈dim join is the pattern (exact
    // here — the HLL variant for 100 TB is q_events_hourly_hll's
    // posture).
    "q_tpch_q16" -> QueryDef(
      (s, dir) => {
        val sizes = Seq(1, 4, 7, 10, 13, 16, 19, 22).map(lit(_))
        val badSupp = Tables.supplier(s, dir)
          .filter(col("s_acctbal") < lit(0.0)).select(col("s_suppkey"))
        graft.sources.PartSuppGen.partsupp(s, dir)
          .select(col("ps_partkey"), col("ps_suppkey"))
          .join(Tables.part(s, dir)
            .filter(col("p_brand") =!= "Brand#45" && col("p_size").isin(sizes: _*))
            .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")),
            col("ps_partkey") === col("p_partkey"))
          .join(badSupp, col("ps_suppkey") === col("s_suppkey"), "left_anti")
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      },
      sql"""WITH $PartsuppCte
        |SELECT p_brand, p_type, p_size,
        |       count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON ps_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45'
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < CAST(0 AS DOUBLE))
        |GROUP BY p_brand, p_type, p_size"""),

    // Q20 (potential part promotion) in its TRUE partsupp form (since
    // r10; the excess-stock threshold was re-expressed as shipped
    // volume before PartSuppGen): suppliers in the first five nations
    // holding excess stock of a PROMO part — ps_availqty > ½ the
    // quantity they shipped of it in 1996. The heavy agg runs FIRST
    // (the fact cut to one year, one keyed agg on (part, supp)), and
    // the tiny qualifying frame joins the broadcast ps⋈part dim and
    // then the nation-filtered supplier scan — the Q18 reduction
    // discipline. The ½ threshold is the all-double comparison
    // 2·availqty > qty on BOTH sides (sums of integral quantities are
    // exact in double at any SF that fits an engine).
    "q_tpch_q20" -> QueryDef(
      (s, dir) => {
        val shipped = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1997-01-01")))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(moneySum(col("l_quantity"), 2).as("qty"))
        val psPromo = graft.sources.PartSuppGen.partsuppOf(
            Tables.part(s, dir).filter(col("p_type") === "PROMO"), s, dir)
          .select(col("ps_partkey"), col("ps_suppkey"), col("ps_availqty"))
        val qual = shipped
          .join(broadcast(psPromo),
            col("l_partkey") === col("ps_partkey") &&
              col("l_suppkey") === col("ps_suppkey"))
          .filter(col("ps_availqty").cast("double") * 2.0 > col("qty"))
          .select(col("ps_suppkey")).distinct()
        Tables.supplier(s, dir)
          .filter(col("s_nationkey") < 5)
          .join(qual, col("s_suppkey") === col("ps_suppkey"))
          .select(col("s_suppkey"), col("s_name"))
      },
      sql"""WITH $PartsuppCte,
        |shipped AS (
        |  SELECT l_partkey, l_suppkey,
        |         ${decimalSum("l_quantity", 2)} AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2),
        |qual AS (
        |  SELECT DISTINCT ps_suppkey
        |  FROM shipped
        |  JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |  JOIN part ON ps_partkey = p_partkey
        |  WHERE p_type = 'PROMO' AND CAST(2 * ps_availqty AS DOUBLE) > qty)
        |SELECT s_suppkey, s_name
        |FROM supplier JOIN qual ON s_suppkey = ps_suppkey
        |WHERE s_nationkey < 5""")
  ) ++ partsuppDefs
}
