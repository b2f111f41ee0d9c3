package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.Cdc

/** Change-data-capture surface: SCD1 MERGE (latest change per key wins,
  * upsert/delete) and SCD2 validity-interval history — the operators
  * that keep a 100 TB curated table current from an update stream.
  *
  * The CDC stream is derived deterministically from `events`: key =
  * user_id·12 (so ~5/6 of keys hit existing customers and the rest are
  * genuine inserts), op = DELETE for 'error' events else UPSERT, and
  * "latest" is the total order (ts, event_id). The Spark side compacts
  * with ONE keyed max_by aggregation (map-side combinable — no window
  * sort); the oracle replays it as row_number() DESC = 1, and the hash
  * match proves the two formulations agree.
  */
object CdcQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    "q_cdc_upsert" -> QueryDef(
      (s, dir) => {
        val base = Tables.customer(s, dir)
        val changes = Tables.events(s, dir).select(
          (col("user_id") * 12).as("c_custkey"),
          col("ts"), col("event_id"), col("event_type"), col("value"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"))
        Cdc.applyChanges(base, changes, "c_custkey",
            orderCols = Seq("ts", "event_id"), opCol = "op",
            set = Map(
              "c_acctbal" -> col("chg.value"),
              "c_mktsegment" -> col("chg.event_type"),
              "c_name" -> coalesce(col("base.c_name"),
                concat(lit("cdc-"), col("chg.c_custkey").cast("string")))))
          .withColumn("c_nationkey",
            coalesce(col("c_nationkey"), lit(-1)).cast("int"))
      },
      sql"""WITH chg AS (
        |  SELECT user_id * 12 AS k, ts, event_id, event_type, value,
        |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        |  FROM events),
        |last AS (
        |  SELECT k, op, event_type, value FROM (
        |    SELECT k, op, event_type, value,
        |           row_number() OVER (PARTITION BY k
        |             ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM chg) WHERE rn = 1),
        |m AS (SELECT * FROM customer FULL OUTER JOIN last ON c_custkey = k)
        |SELECT CAST(COALESCE(c_custkey, k) AS BIGINT) AS c_custkey,
        |       CASE WHEN k IS NOT NULL
        |            THEN COALESCE(c_name, 'cdc-' || CAST(k AS VARCHAR))
        |            ELSE c_name END AS c_name,
        |       CAST(COALESCE(c_nationkey, -1) AS INTEGER) AS c_nationkey,
        |       CASE WHEN k IS NOT NULL THEN value ELSE c_acctbal END AS c_acctbal,
        |       CASE WHEN k IS NOT NULL THEN event_type ELSE c_mktsegment END AS c_mktsegment
        |FROM m
        |WHERE NOT (k IS NOT NULL AND op = 'D')"""),

    // SCD2: every order becomes a validity interval of its customer's
    // "latest order" dimension — [o_orderdate, next o_orderdate), open
    // intervals closed with the 9999-12-31 sentinel, is_current flag.
    "q_scd2" -> QueryDef(
      (s, dir) => {
        val hist = Cdc.scd2(
          Tables.orders(s, dir)
            .select(col("o_custkey"), col("o_orderkey"),
              col("o_totalprice"), col("o_orderdate")),
          "o_custkey", orderCols = Seq("o_orderdate", "o_orderkey"))
        hist.select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
          coalesce(date_format(col("o_orderdate_to"), "yyyy-MM-dd"),
            lit("9999-12-31")).as("valid_to"),
          col("is_current"))
      },
      sql"""SELECT o_custkey, o_orderkey, o_totalprice,
        |       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |       COALESCE(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d'),
        |                '9999-12-31') AS valid_to,
        |       CAST(CASE WHEN lead(o_orderdate) OVER w IS NULL
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""")
  )
}
