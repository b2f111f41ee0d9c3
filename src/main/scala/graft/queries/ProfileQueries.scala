package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.{Cms, Hll, Kmv, Profile, ZOrder}
import OracleSql._

/** Table-profiling surface: one-scan per-column profile and equi-width
  * histogram over `lineitem`. The oracle SQL is GENERATED from the same
  * column/type list the engine profiles, so the per-type numeric-view
  * semantics (value / length / epoch-micros) are pinned in one place.
  */
object ProfileQueries {

  // (column, numeric-view SQL) — must mirror Profile.numView's per-type
  // rule for lineitem's schema. Declared before `defs` (init order).
  private val LineitemCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "CAST(l_orderkey AS DOUBLE)",
    "l_partkey" -> "CAST(l_partkey AS DOUBLE)",
    "l_suppkey" -> "CAST(l_suppkey AS DOUBLE)",
    "l_linenumber" -> "CAST(l_linenumber AS DOUBLE)",
    "l_quantity" -> "CAST(l_quantity AS DOUBLE)",
    "l_extendedprice" -> "CAST(l_extendedprice AS DOUBLE)",
    "l_discount" -> "CAST(l_discount AS DOUBLE)",
    "l_tax" -> "CAST(l_tax AS DOUBLE)",
    "l_returnflag" -> "CAST(length(l_returnflag) AS DOUBLE)",
    "l_linestatus" -> "CAST(length(l_linestatus) AS DOUBLE)",
    "l_shipdate" -> "CAST(epoch_us(l_shipdate) AS DOUBLE)")

  /** The KMV sketches of l_orderkey per returnflag: the k smallest
    * portable hashes per `tag` (`sk`), with each sketch's size `n_sk`
    * and largest kept hash `theta`. */
  private val KmvCtes =
    sql"""hv AS (
      |  SELECT DISTINCT l_returnflag AS tag,
      |         ${hash60("CAST(l_orderkey AS VARCHAR)")} AS h
      |  FROM lineitem),
      |sk AS (
      |  SELECT tag, h FROM (
      |    SELECT tag, h, row_number() OVER (PARTITION BY tag ORDER BY h) AS rn FROM hv)
      |  WHERE rn <= ${Kmv.K}),
      |thetas AS (SELECT tag, CAST(count(*) AS BIGINT) AS n_sk, max(h) AS theta FROM sk GROUP BY 1)"""

  private val ProfileOracle = new Sql(LineitemCols.map { case (c, nv) =>
    sql"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
       |  min($nv) AS min_num, max($nv) AS max_num
       |FROM lineitem"""
  }.mkString("\nUNION ALL\n"))

  val defs: Seq[(String, QueryDef)] = Seq(

    // Exact mode (multi-distinct via Expand — one input scan). The
    // approx (HLL, no-Expand) mode is the 100 TB default and is gated
    // in ProfileSpec instead (estimates can't hash-match).
    "q_profile" -> QueryDef(
      (s, dir) => Profile.profile(
        Tables.lineitem(s, dir), LineitemCols.map(_._1), exact = true),
      ProfileOracle),

    "q_histogram" -> QueryDef(
      (s, dir) => Profile.histogram(
        Tables.lineitem(s, dir), "l_extendedprice", nBuckets = 20),
      sql"""WITH bounds AS (
        |  SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn,
        |         max(CAST(l_extendedprice AS DOUBLE)) AS mx
        |  FROM lineitem),
        |bk AS (
        |  SELECT CAST(CASE WHEN l_extendedprice IS NULL THEN NULL
        |         WHEN mx = mn THEN 0
        |         ELSE least(CAST(floor((CAST(l_extendedprice AS DOUBLE) - mn) * 20.0 / (mx - mn)) AS BIGINT), 19)
        |         END AS BIGINT) AS bucket, mn, mx
        |  FROM lineitem CROSS JOIN bounds)
        |SELECT bucket,
        |       mn + CAST(bucket AS DOUBLE) * ((mx - mn) / 20.0) AS lo,
        |       mn + CAST(bucket + 1 AS DOUBLE) * ((mx - mn) / 20.0) AS hi,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM bk GROUP BY bucket, mn, mx"""),

    // Z-order (Morton) clustering key over (l_partkey, l_suppkey) — the
    // key behind 2-D data skipping (operators/ZOrder; a layout then
    // range-partitions and sorts by it). Pure integer bit math,
    // replayed shift-for-shift by the oracle.
    "q_zorder" -> QueryDef(
      (s, dir) => Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          ZOrder.zkey2(col("l_partkey"), col("l_suppkey")).as("zkey")),
      sql"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |       ${ZOrder.zkey2Sql("l_partkey", "l_suppkey")} AS zkey
        |FROM lineitem"""),

    // Portable HLL distinct-order estimate per returnflag beside the
    // exact count — the only cardinality sketch whose ESTIMATE is
    // hash-verified (q_events_hourly_hll's HLL++ has engine-private
    // registers, so its oracle checks an error-band gate instead).
    // All-integer register state, one final
    // IEEE division; see operators/Hll for the 2⁵⁵-scaled harmonic.
    "q_hll_card" -> QueryDef(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        li.groupBy(col("l_returnflag"))
          .agg(count_distinct(col("l_orderkey")).as("n_exact"))
          .join(Hll.cardinality(li, Seq("l_returnflag"), col("l_orderkey")),
            Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n_exact"), col("regs_hit"),
            col("harmonic"), col("hll_estimate"))
      },
      sql"""WITH h AS (
        |  SELECT l_returnflag,
        |         ${hash60("CAST(l_orderkey AS VARCHAR)")} AS h
        |  FROM lineitem),
        |${hllRegisterCte("l_returnflag")},
        |m AS (SELECT l_returnflag, reg, max(rho) AS mx FROM r GROUP BY 1, 2),
        |${hllHarmonicCte("l_returnflag")},
        |x AS (SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact
        |      FROM lineitem GROUP BY 1)
        |SELECT s.l_returnflag, x.n_exact, s.regs_hit, s.harmonic,
        |       ${hllEstimate("s.harmonic")}
        |FROM s JOIN x ON x.l_returnflag = s.l_returnflag"""),

    // Count-min point estimates for EVERY distinct partkey vs exact —
    // counter values are pure sums (no merge-order dependence), so the
    // sketch estimates themselves hash-verify; overcount ≥ 0 is the
    // CMS one-sided guarantee, pinned per-row in CmsSpec.
    "q_cms_freq" -> QueryDef(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val sketch = Cms.counters(li, col("l_partkey"))
        val est = Cms.pointEstimates(sketch,
          li.select(col("l_partkey")).distinct(), "l_partkey")
        li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_exact"))
          .join(est, Seq("l_partkey"))
          .select(col("l_partkey"), col("n_exact"), col("cms_estimate"),
            (col("cms_estimate") - col("n_exact")).as("overcount"))
      },
      sql"""WITH seeds AS (SELECT unnest(generate_series(0, ${Cms.D - 1})) AS seed),
        |hv AS (
        |  SELECT ${hash60("CAST(l_partkey AS VARCHAR)")} AS h
        |  FROM lineitem),
        |hx AS (SELECT seed, $CmsBucket AS bucket FROM hv CROSS JOIN seeds),
        |counters AS (SELECT seed, bucket, CAST(count(*) AS BIGINT) AS c FROM hx GROUP BY 1, 2),
        |items AS (SELECT DISTINCT l_partkey,
        |          ${hash60("CAST(l_partkey AS VARCHAR)")} AS h
        |          FROM lineitem),
        |ib AS (SELECT l_partkey, seed, $CmsBucket AS bucket
        |       FROM items CROSS JOIN seeds),
        |est AS (
        |  SELECT l_partkey, CAST(min(COALESCE(c, 0)) AS BIGINT) AS cms_estimate
        |  FROM ib LEFT JOIN counters USING (seed, bucket) GROUP BY 1),
        |x AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_exact FROM lineitem GROUP BY 1)
        |SELECT x.l_partkey, x.n_exact, est.cms_estimate,
        |       CAST(est.cms_estimate - x.n_exact AS BIGINT) AS overcount
        |FROM x JOIN est USING (l_partkey)"""),

    // HLL ROLLUP — the way the sketch is actually used at 100 TB: daily
    // per-type register frames (what an ingest job would persist beside
    // each partition) merged to per-type registers by max, WITHOUT
    // rescanning events; the oracle replays the daily→merged path, so
    // the hash match proves rollup ≡ direct on real data. Same output
    // contract as q_hll_card.
    "q_hll_merge" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val daily = Hll.registers(
          ev.withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
          Seq("event_type", "day"), col("user_id"))
        ev.groupBy(col("event_type"))
          .agg(count_distinct(col("user_id")).as("n_exact"))
          .join(Hll.estimate(Hll.mergeAll(daily, Seq("event_type")),
            Seq("event_type")), Seq("event_type"))
          .select(col("event_type"), col("n_exact"), col("regs_hit"),
            col("harmonic"), col("hll_estimate"))
      },
      sql"""WITH h AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         ${hash60("CAST(user_id AS VARCHAR)")} AS h
        |  FROM events),
        |${hllRegisterCte("event_type, day")},
        |daily AS (SELECT event_type, day, reg, max(rho) AS mx FROM r GROUP BY 1, 2, 3),
        |m AS (SELECT event_type, reg, max(mx) AS mx FROM daily GROUP BY 1, 2),
        |${hllHarmonicCte("event_type")},
        |x AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        |      FROM events GROUP BY 1)
        |SELECT s.event_type, x.n_exact, s.regs_hit, s.harmonic,
        |       ${hllEstimate("s.harmonic")}
        |FROM s JOIN x ON x.event_type = s.event_type"""),

    // KMV/theta distinct estimate per returnflag beside the exact
    // count — the third portable sketch: unlike HLL the state is the
    // k smallest hashes themselves (selected on the native bounded-heap
    // operator), so the SAME sketch also answers set algebra below.
    "q_kmv_card" -> QueryDef(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        li.groupBy(col("l_returnflag"))
          .agg(count_distinct(col("l_orderkey")).as("n_exact"))
          .join(Kmv.estimateDistinct(
            Kmv.sketch(li, Seq("l_returnflag"), col("l_orderkey")),
            Seq("l_returnflag")), Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n_exact"), col("n_sk"),
            col("theta"), col("kmv_estimate"))
      },
      sql"""WITH $KmvCtes,
        |x AS (SELECT l_returnflag AS tag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact
        |      FROM lineitem GROUP BY 1)
        |SELECT x.tag AS l_returnflag, x.n_exact, t.n_sk, t.theta,
        |       CASE WHEN t.n_sk < ${Kmv.K} THEN CAST(t.n_sk AS DOUBLE)
        |            ELSE CAST('${Kmv.EstNumerator.toString}' AS DOUBLE) / CAST(t.theta AS DOUBLE) END AS kmv_estimate
        |FROM x JOIN thetas t ON t.tag = x.tag"""),

    // Theta-sketch set algebra: pairwise order-set overlap between
    // returnflags from the ≤ k-row sketches alone — intersection/union
    // cardinalities and Jaccard without rescanning lineitem. Every
    // count is an integer; the two estimate columns share one
    // (H / θ*) division, replayed exactly.
    "q_kmv_overlap" -> QueryDef(
      (s, dir) => Kmv.overlap(
        Kmv.sketch(Tables.lineitem(s, dir), Seq("l_returnflag"), col("l_orderkey")),
        "l_returnflag"),
      sql"""WITH $KmvCtes,
        |pairs AS (
        |  SELECT a.tag AS tag_a, b.tag AS tag_b, least(a.theta, b.theta) AS theta_min
        |  FROM thetas a JOIN thetas b ON a.tag < b.tag),
        |ac AS (
        |  SELECT p.tag_a, p.tag_b, p.theta_min,
        |         CAST(count(*) AS BIGINT) AS n_a_lt, CAST(count(sb.h) AS BIGINT) AS n_common
        |  FROM pairs p
        |  JOIN sk sa ON sa.tag = p.tag_a AND sa.h < p.theta_min
        |  LEFT JOIN sk sb ON sb.tag = p.tag_b AND sb.h = sa.h
        |  GROUP BY 1, 2, 3),
        |bc AS (
        |  SELECT p.tag_a, p.tag_b, CAST(count(*) AS BIGINT) AS n_b_lt
        |  FROM pairs p JOIN sk sb ON sb.tag = p.tag_b AND sb.h < p.theta_min
        |  GROUP BY 1, 2)
        |SELECT p.tag_a, p.tag_b, COALESCE(ac.n_common, 0) AS n_common,
        |       CAST(COALESCE(ac.n_a_lt, 0) + COALESCE(bc.n_b_lt, 0) - COALESCE(ac.n_common, 0) AS BIGINT) AS n_either,
        |       CAST(COALESCE(ac.n_common, 0) AS DOUBLE) * (CAST('${Kmv.HashSpace.toString}' AS DOUBLE) / CAST(p.theta_min AS DOUBLE)) AS inter_est,
        |       CAST(COALESCE(ac.n_a_lt, 0) + COALESCE(bc.n_b_lt, 0) - COALESCE(ac.n_common, 0) AS DOUBLE) * (CAST('${Kmv.HashSpace.toString}' AS DOUBLE) / CAST(p.theta_min AS DOUBLE)) AS union_est,
        |       CASE WHEN COALESCE(ac.n_a_lt, 0) + COALESCE(bc.n_b_lt, 0) - COALESCE(ac.n_common, 0) > 0
        |            THEN CAST(COALESCE(ac.n_common, 0) AS DOUBLE) / CAST(COALESCE(ac.n_a_lt, 0) + COALESCE(bc.n_b_lt, 0) - COALESCE(ac.n_common, 0) AS DOUBLE)
        |            END AS jaccard_est
        |FROM pairs p LEFT JOIN ac USING (tag_a, tag_b) LEFT JOIN bc USING (tag_a, tag_b)""")
  )
}
