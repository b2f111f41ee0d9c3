package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{QueryDef, Tables}
import graft.functions.ColFns._
import OracleSql.decimalSum

/** Window functions, global sort/limit, rollup, distinct aggregation and
  * plain filter/project — the rest of the relational surface.
  *
  * Determinism notes: every window order is made total with a key suffix;
  * running money sums accumulate in decimal (DuckDB evaluates windowed
  * sums with a segment tree, so double accumulation order differs from
  * Spark's running fold — decimal is associative, so both agree).
  */
object WindowQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    "q_filter_project" -> QueryDef(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        li.filter(col("l_quantity") >= 45.0 &&
            col("l_shipdate") >= tsLit(li, "l_shipdate", "1998-01-01 00:00:00") &&
            col("l_shipdate") < tsLit(li, "l_shipdate", "1999-01-01 00:00:00"))
          .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
            col("l_partkey"), col("l_quantity"),
            date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
      },
      sql"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_partkey, l_quantity,
        |       strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem
        |WHERE l_quantity >= 45.0
        |  AND l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate <  TIMESTAMP '1999-01-01'"""),

    // Global top-n: Spark plans TakeOrderedAndProject — per-partition
    // top-n then a single driver-side merge of n·P rows, no full sort.
    "q_topn_global" -> QueryDef(
      (s, dir) => Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      sql"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),

    // Per-key top-k on the native whole-operator path (custom logical
    // node → TopKPerKeyStrategy → two-phase TopKPerKeyExec): bounded
    // heaps on both sides of the exchange instead of sorts, with the
    // partial phase shrinking the shuffle to ≤ k rows per key per map
    // partition. Same row sets as the window/rank formulation (pinned
    // in TopKNativeSpec) — here checked against the DuckDB rank oracle.
    "q_topk_native" -> QueryDef(
      (s, dir) => graft.operators.TopK.perGroupNative(
        Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        Seq("o_custkey"), "o_totalprice", Seq("o_orderkey"), k = 3),
      sql"""SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3"""),

    // Per-customer order sequence: rank + running spend. The running sum
    // is decimal-exact (see class doc), surfaced as double.
    "q_window_running" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        Tables.orders(s, dir)
          .withColumn("order_seq", row_number().over(w).cast("long"))
          .withColumn("running_spend",
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double"))
          .select(col("o_custkey"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
            col("o_totalprice"), col("order_seq"), col("running_spend"))
      },
      sql"""SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       o_totalprice,
        |       CAST(row_number() OVER w AS BIGINT) AS order_seq,
        |       ${decimalSum("o_totalprice", 2, "(w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")} AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""),

    // Hierarchical aggregation: rollup = (flag,status), (flag), ().
    "q_rollup" -> QueryDef(
      (s, dir) => Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice"), 2).as("sum_price")),
      sql"""SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
        |       sum(l_quantity) AS sum_qty,
        |       ${decimalSum("l_extendedprice", 2)} AS sum_price
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),

    // Explicit GROUPING SETS (arbitrary combos, unlike rollup/cube's
    // fixed lattices) + grouping_id to tell a real NULL from an
    // aggregated-out dimension — both engines use the standard bitmask.
    "q_grouping_sets" -> QueryDef(
      (s, dir) => Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
            Seq(col("o_orderpriority")), Seq(col("o_orderstatus"))),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice"), 2).as("total"),
          grouping_id().cast("long").as("gid")),
      sql"""SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |       ${decimalSum("o_totalprice", 2)} AS total,
        |       CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |                        (o_orderpriority), (o_orderstatus))"""),

    // Distribution windows: quartile assignment per group (total order
    // → deterministic ntile in both engines).
    "q_ntile" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_quantity").asc, col("l_orderkey").asc, col("l_linenumber").asc)
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
            col("l_returnflag"), col("l_quantity"))
          .withColumn("quartile", ntile(4).over(w).cast("long"))
      },
      sql"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       l_returnflag, l_quantity,
        |       CAST(ntile(4) OVER (PARTITION BY l_returnflag
        |         ORDER BY l_quantity, l_orderkey, l_linenumber) AS BIGINT) AS quartile
        |FROM lineitem"""),

    // Ranking-window family over a total order: rank/dense_rank agree
    // in both engines given the (o_totalprice, o_orderkey) tie-break;
    // percent_rank and cume_dist are single IEEE divisions of exact
    // integers — bit-stable.
    "q_window_rankings" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
          .withColumn("rnk", rank().over(w).cast("long"))
          .withColumn("drnk", dense_rank().over(w).cast("long"))
          .withColumn("prnk", percent_rank().over(w))
          .withColumn("cdist", cume_dist().over(w))
      },
      sql"""SELECT o_orderkey, o_orderpriority, o_totalprice,
        |       CAST(rank() OVER w AS BIGINT) AS rnk,
        |       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |       percent_rank() OVER w AS prnk,
        |       cume_dist() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)"""),

    // Calendar/date function surface (year/quarter/month/day-of-week,
    // truncation, day arithmetic) — Spark's dayofweek is 1=Sunday,
    // DuckDB's dayofweek is 0=Sunday: the oracle adds 1.
    "q_date_funcs" -> QueryDef(
      (s, dir) => Tables.orders(s, dir).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        month(col("o_orderdate")).cast("long").as("mon"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since_epoch0")),
      sql"""SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |       CAST(month(o_orderdate) AS BIGINT) AS mon,
        |       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |       CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_epoch0
        |FROM orders"""),

    // Scalar string functions over part names (shared SQL semantics).
    "q_string_funcs" -> QueryDef(
      (s, dir) => Tables.part(s, dir).select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        length(col("p_name")).cast("long").as("name_len"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("consonants"),
        levenshtein(col("p_type"), lit("STANDARD")).cast("long").as("type_dist")),
      sql"""SELECT p_partkey, upper(p_brand) AS brand_u,
        |       substring(p_name, 1, 8) AS name_prefix,
        |       CAST(length(p_name) AS BIGINT) AS name_len,
        |       regexp_replace(p_name, '[aeiou]', '', 'g') AS consonants,
        |       CAST(levenshtein(p_type, 'STANDARD') AS BIGINT) AS type_dist
        |FROM part"""),

    // Pivot: long→wide reshape (pinned pivot values; both engines use
    // filtered aggregation underneath).
    "q_pivot" -> QueryDef(
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity"))),
      sql"""SELECT l_linestatus,
        |       sum(l_quantity) FILTER (WHERE l_returnflag = 'A') AS A,
        |       sum(l_quantity) FILTER (WHERE l_returnflag = 'N') AS N,
        |       sum(l_quantity) FILTER (WHERE l_returnflag = 'R') AS R
        |FROM lineitem GROUP BY l_linestatus"""),

    // Exact percentiles (linear interpolation — identical formula in
    // Spark's percentile and DuckDB's quantile_cont; quantities are
    // integral so the interpolation arithmetic is exact).
    "q_percentile" -> QueryDef(
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.9)).as("p90"),
          count(lit(1)).as("n")),
      sql"""SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS p50,
        |       quantile_cont(l_quantity, 0.9) AS p90, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag"""),

    // Group-to-list (SURVEY §2.4 "group-to-list" row): ordered per-part
    // month series, canonicalized to a sortable string so both engines
    // agree on list order (binary-sorted 'yyyy-MM:qty' entries).
    "q_group_list" -> QueryDef(
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"), monthKey(col("l_shipdate")).as("month"))
        .agg(sum(col("l_quantity")).cast("long").as("qty"))
        .groupBy(col("l_partkey"))
        .agg(array_join(sort_array(collect_list(
          concat_ws(":", col("month"), col("qty")))), ",").as("month_series")),
      sql"""SELECT l_partkey,
        |       array_to_string(list_sort(list(month || ':' || CAST(qty AS VARCHAR))), ',') AS month_series
        |FROM (SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS month,
        |             CAST(sum(l_quantity) AS BIGINT) AS qty
        |      FROM lineitem GROUP BY 1, 2)
        |GROUP BY l_partkey"""),

    // Skew-guard: two-stage salted aggregation must equal the plain
    // groupBy (oracle IS the plain groupBy) — merge-associativity check.
    "q_salted_agg" -> QueryDef(
      (s, dir) => graft.operators.Salting.saltedAgg(
        Tables.lineitem(s, dir).select(col("l_returnflag"), col("l_quantity")),
        Seq(col("l_returnflag")), buckets = 16,
        Seq("count_lines" -> count(lit(1)),
          "sum_qty" -> sum(col("l_quantity")),
          "min_qty" -> min(col("l_quantity")),
          "max_qty" -> max(col("l_quantity")))),
      sql"""SELECT l_returnflag, count(*) AS count_lines, sum(l_quantity) AS sum_qty,
        |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag"""),

    // Full grouping-set lattice.
    "q_cube" -> QueryDef(
      (s, dir) => Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_lines"), sum(col("l_quantity")).as("sum_qty")),
      sql"""SELECT l_returnflag, l_linestatus, count(*) AS n_lines, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""),

    // Distinct aggregation — the BUILT-IN multi-distinct surface, kept
    // deliberately: with two distinct column sets Catalyst plans an
    // Expand (3 projections → 3× the scanned rows through the first
    // shuffle). That cost is acceptable here only because this query
    // demonstrates the surface itself; at 100 TB the house plan is
    // q_tpch_q21's — one keyed agg per distinct set, joined on the
    // group key — which PlanAuditSpec pins Expand-free.
    "q_distinct_agg" -> QueryDef(
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          count(lit(1)).as("n_lines")),
      sql"""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_orderkey) AS n_orders, count(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag"""),

    // Offset/navigation window functions (lead/lag/first_value/
    // last_value/nth_value) — last_value and nth_value take an explicit
    // unbounded ROWS frame on BOTH sides (the SQL-standard default frame
    // stops at CURRENT ROW, which would make last_value ≡ current row).
    // Values are carried doubles, no arithmetic — bit-exact across
    // engines; the window order is total (date + key suffix).
    "q_window_offsets" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, dir).select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          first(col("o_totalprice")).over(wFull).as("first_price"),
          last(col("o_totalprice")).over(wFull).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(wFull).as("second_price"))
      },
      sql"""SELECT o_custkey, o_orderkey, o_totalprice,
        |       lead(o_totalprice, 1) OVER w AS next_price,
        |       lag(o_totalprice, 1) OVER w AS prev_price,
        |       first_value(o_totalprice) OVER wf AS first_price,
        |       last_value(o_totalprice) OVER wf AS last_price,
        |       nth_value(o_totalprice, 2) OVER wf AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""),

    // Wide→long unpivot (melt): the remaining everyday reshaping op —
    // Catalyst plans Expand (one pass, no join/shuffle); the oracle
    // re-derives it as a UNION ALL so no engine-specific UNPIVOT
    // syntax is trusted on either side.
    "q_unpivot" -> QueryDef(
      (s, dir) => Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "measure", "value"),
      sql"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, measure, value
        |FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)"""),

    // RANGE-frame rolling aggregates: per event, count and decimal-exact
    // value sum over the PRECEDING HOUR of the same user (range frame on
    // integer epoch-micros — value-based bounds, peers included, unlike
    // every ROWS frame above). The 100 TB shape is one shuffle on
    // user_id + an in-partition sort; per-row frame lookup is the
    // engine's segment tree, never a self-join.
    "q_rolling_1h" -> QueryDef(
      (s, dir) => {
        val hourUs = 3600L * 1000 * 1000
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
          .rangeBetween(-hourUs, 0)
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"), col("value"))
          .withColumn("n_1h", count(lit(1)).over(w))
          .withColumn("sum_1h",
            sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double"))
      },
      sql"""SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |       CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |       ${decimalSum("value", 2, "w")} AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"""),

    // Null-safe arithmetic semantics: try_divide returns NULL on a zero
    // divisor (never a runtime error, even under ANSI mode) — the same
    // contract as SQL's x / NULLIF(y, 0); a coalesce gives the explicit
    // fallback. Pinned because ANSI-mode division-by-zero is a worker
    // CRASH otherwise, and a 100 TB job dying on one bad row is the
    // failure mode this surface exists to prevent.
    "q_safe_math" -> QueryDef(
      (s, dir) => {
        val div = (col("l_linenumber") - 3).cast("double")
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"),
            try_divide(col("l_extendedprice"), div).as("ratio"),
            coalesce(try_divide(col("l_extendedprice"), div), lit(0.0)).as("ratio0"))
      },
      sql"""SELECT l_orderkey, l_linenumber,
        |       l_extendedprice / NULLIF(CAST(l_linenumber - 3 AS DOUBLE), 0) AS ratio,
        |       coalesce(l_extendedprice / NULLIF(CAST(l_linenumber - 3 AS DOUBLE), 0), CAST(0 AS DOUBLE)) AS ratio0
        |FROM lineitem""")
  )
}
