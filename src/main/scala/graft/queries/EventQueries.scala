package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.ColFns._
import OracleSql.{decimalSum, sessionCtes}

/** Event-stream analytics in batch form: tumbling time buckets and
  * gap-based sessionization (lag → boundary flag → running sum = session
  * id). The same shapes re-appear as Structured Streaming queries in
  * graft.streaming; batch first because the driver's oracle is batch.
  *
  * All time math is integer epoch-micros (`unix_micros` / `epoch_us`) —
  * no float time anywhere, so sums and differences are exact.
  */
object EventQueries {

  private val SessionGapUs: Long = 30L * 60 * 1000 * 1000 // 30 min

  /** Ordered 3-step funnel over (user_id, event_type, ts_us) rows: each
    * stage's timestamp is the min STRICTLY AFTER the previous stage's —
    * shared by q_funnel and FunnelSpec's crafted-ordering pins. */
  private[graft] def funnel(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val users = ev.select(col("user_id")).distinct()
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("view_us"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts_us") > col("view_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("click_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts_us") > col("click_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("purchase_us"))
    users.join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("view_us"), col("click_us"), col("purchase_us"),
        when(col("purchase_us").isNotNull, 3L)
          .when(col("click_us").isNotNull, 2L)
          .when(col("view_us").isNotNull, 1L)
          .otherwise(0L).as("stage"))
  }

  /** The as-of join oracle: each event beside the latest (`cmp` is
    * `>=`) or next (`<=`) order time of its user, with that time's
    * largest order key — DuckDB's native ASOF LEFT JOIN. */
  private def asofSql(cmp: String): Sql =
    sql"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
      |ords AS (SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS ots_us,
      |                max(o_orderkey) AS last_orderkey
      |         FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, e.ts_us,
      |       o.ots_us AS r_ts_us, o.last_orderkey AS r_last_orderkey
      |FROM ev e ASOF LEFT JOIN ords o ON e.user_id = o.user_id AND e.ts_us $cmp o.ots_us"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // Tumbling 1-hour buckets per event type.
    "q_events_hourly" -> QueryDef(
      (s, dir) => Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          moneySum(col("value"), 2).as("total_value")),
      sql"""SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
        |       count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |       ${decimalSum("value", 2)} AS total_value
        |FROM events GROUP BY 1, 2"""),

    // Sketch-based distinct counting — the 100 TB posture for
    // q_events_hourly's n_users column: exact count(DISTINCT) must
    // shuffle every (hour, type, user) triple and holds per-group hash
    // sets open through the merge, while approx_count_distinct
    // (HyperLogLog++, Heule et al. 2013; 5% default rsd) is map-side
    // combinable with a constant-size sketch per group — on a skewed
    // hot hour the exact path concentrates that hour's users on one
    // task, the sketch stays O(kB). The estimate itself can never
    // hash-match (DuckDB's approx_count_distinct is a different HLL —
    // own register width / bias correction), so the ORACLE-CHECKED
    // column is the error-band GATE, the q_media_jpeg pattern for
    // non-replayable computations: exact and sketch run in the SAME
    // query, and `|est − exact| ≤ max(6, 0.20·exact)` is emitted as a
    // boolean the oracle asserts `true`. A broken sketch flips the gate
    // → hash red. Bound: measured worst per-group error is ±1 at sf0.01
    // and ±4 (rel 0.167, e=24) at sf0.1 for the deterministic default-
    // rsd-0.05 HLL++; 6/0.20 is ~1.5× headroom over observed worst,
    // still well inside "the sketch works". The exact countDistinct
    // here is the verification cost, not the production path — the
    // 100 TB profile pass runs the sketch-only q_events_hourly shape.
    "q_events_hourly_hll" -> QueryDef(
      (s, dir) => Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          approx_count_distinct(col("user_id")).as("_approx"))
        .select(col("hour"), col("event_type"), col("n_events"), col("n_users"),
          (abs(col("_approx") - col("n_users")).cast("double") <=
            greatest(lit(6.0), lit(0.20) * col("n_users").cast("double")))
            .as("hll_ok")),
      sql"""SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
        |       count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |       true AS hll_ok
        |FROM events GROUP BY 1, 2"""),

    // Sketch quantiles beside the exact percentile surface: KLL/GK-style
    // approx_percentile is ONE pass, bounded memory, and map-side
    // mergeable — exact percentile_approx(1.0-accuracy) at 100 TB means
    // a full sort or a giant collect_list per group. The estimate can't
    // hash-match (DuckDB's approx_quantile is t-digest — a different
    // sketch), so the oracle-checked columns are the EXACT quantiles
    // (quantile_cont parity proven by q_percentile) plus a RANK-BRACKET
    // gate: the GK sketch guarantees rank error ≤ 1/accuracy = 0.02%,
    // so each estimate must land between the exact quantiles ±2 rank
    // points away (100× headroom; same bracket ApproxSpec pins). A
    // broken sketch lands outside the bracket → gate false → hash red.
    "q_percentile_approx" -> QueryDef(
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          percentile(col("value"), lit(0.5)).as("p50"),
          percentile(col("value"), lit(0.95)).as("p95"),
          percentile(col("value"), lit(0.48)).as("_p50_lo"),
          percentile(col("value"), lit(0.52)).as("_p50_hi"),
          percentile(col("value"), lit(0.93)).as("_p95_lo"),
          percentile(col("value"), lit(0.97)).as("_p95_hi"),
          percentile_approx(col("value"), lit(0.5), lit(5000)).as("_a50"),
          percentile_approx(col("value"), lit(0.95), lit(5000)).as("_a95"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("p50"), col("p95"), col("n"),
          (col("_a50") >= col("_p50_lo") && col("_a50") <= col("_p50_hi")).as("p50_ok"),
          (col("_a95") >= col("_p95_lo") && col("_a95") <= col("_p95_hi")).as("p95_ok")),
      sql"""SELECT event_type, quantile_cont(value, 0.5) AS p50,
        |       quantile_cont(value, 0.95) AS p95, count(*) AS n,
        |       true AS p50_ok, true AS p95_ok
        |FROM events GROUP BY 1"""),

    // Robust (IQR-fence) outlier detection per event type — the
    // anomaly-screening primitive that doesn't assume normality (no
    // mean/stddev, whose sqrt is not bit-portable anyway): flag values
    // above q3 + 1.5·(q3 − q1). The per-type quartile frame is 5 rows —
    // broadcast back over the fact scan, so the whole query is one agg
    // + one map-side filter. Fence arithmetic is the same IEEE op
    // sequence on both engines (percentile ≡ quantile_cont is proven by
    // q_percentile).
    "q_outliers_iqr" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val fences = ev.groupBy(col("event_type").as("et"))
          .agg(percentile(col("value"), lit(0.25)).as("q1"),
            percentile(col("value"), lit(0.75)).as("q3"))
          .select(col("et"),
            (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("fence"))
        ev.join(broadcast(fences), col("event_type") === col("et"))
          .filter(col("value") > col("fence"))
          .select(col("event_id"), col("event_type"), col("value"), col("fence"))
      },
      sql"""WITH f AS (
        |  SELECT event_type AS et,
        |         quantile_cont(value, 0.75) + CAST(1.5 AS DOUBLE) * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) AS fence
        |  FROM events GROUP BY event_type)
        |SELECT event_id, event_type, value, fence
        |FROM events JOIN f ON event_type = et
        |WHERE value > fence"""),

    // OHLC bars per (event type, hour): open/close are order-statistic
    // aggregates (min_by/max_by ≡ DuckDB arg_min/arg_max) — ONE keyed
    // agg, no window sort over the events. Neither engine's arg_min
    // takes a composite key, so the total order (ts, event_id) is
    // encoded as one zero-padded string — lexicographic ≡ numeric, and
    // identical on both sides. Both components pad to 20 digits: the
    // full non-negative BIGINT range fits, so no id or post-1970 epoch
    // can silently overflow the padding and flip open/close.
    "q_ohlc" -> QueryDef(
      (s, dir) => {
        val okey = concat(
          lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
          lpad(col("event_id").cast("string"), 20, "0"))
        Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd HH").as("hour"))
          .agg(
            min_by(col("value"), okey).as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max_by(col("value"), okey).as("close"),
            count(lit(1)).as("n"))
      },
      sql"""SELECT event_type, strftime(ts, '%Y-%m-%d %H') AS hour,
        |       arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 20, '0')) AS open,
        |       max(value) AS high, min(value) AS low,
        |       arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 20, '0')) AS close,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2"""),

    // Median absolute deviation per event type — the robust scale
    // estimator beside the IQR fence (stddev needs a non-portable
    // sqrt; MAD is two exact percentiles and an IEEE subtraction).
    // Two keyed aggs with a 5-row broadcast between them.
    "q_mad" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val med = ev.groupBy(col("event_type").as("et"))
          .agg(percentile(col("value"), lit(0.5)).as("med"))
        ev.join(broadcast(med), col("event_type") === col("et"))
          .groupBy(col("event_type"))
          .agg(max(col("med")).as("med"),
            percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"),
            count(lit(1)).as("n"))
      },
      sql"""WITH m AS (
        |  SELECT event_type AS et, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type)
        |SELECT event_type, max(med) AS med,
        |       quantile_cont(abs(value - med), 0.5) AS mad,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events JOIN m ON event_type = et
        |GROUP BY event_type"""),

    // Correlation sufficient statistics (value vs hour-of-day) per
    // event type: the 100 TB statistics posture — Pearson's r needs a
    // sqrt (not bit-portable), so the engine emits the exact map-side-
    // combinable moments (n, Σx, Σy, Σxy, Σx², Σy²) and the caller
    // finishes the scalar math; every sum is decimal-exact or BIGINT.
    "q_corr_stats" -> QueryDef(
      (s, dir) => {
        val x = col("value")
        val y = hour(col("ts"))
        Tables.events(s, dir)
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            moneySum(x, 2).as("sum_x"),
            sum(y).as("sum_y"),
            moneySum(x * y.cast("double"), 2).as("sum_xy"),
            moneySum(x * x, 4).as("sum_xx"),
            sum(y * y).as("sum_yy"))
      },
      sql"""SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       ${decimalSum("value", 2)} AS sum_x,
        |       CAST(sum(hour(ts)) AS BIGINT) AS sum_y,
        |       ${decimalSum("value * hour(ts)", 2)} AS sum_xy,
        |       ${decimalSum("value * value", 4)} AS sum_xx,
        |       CAST(sum(hour(ts) * hour(ts)) AS BIGINT) AS sum_yy
        |FROM events GROUP BY event_type"""),

    // First-order Markov transitions between event types: per-user
    // sequence (lead over user history — bounded by the largest single
    // history, the sessionize discipline), then one tiny keyed agg; the
    // transition probability divides by the from-state total via a
    // 25-row broadcast join, never a window over the counts. The raw
    // BIGINT counts ride along so the division is auditable.
    "q_event_transitions" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        // steps feeds BOTH the totals agg and the final join — persist
        // (tracked) so the windowed events scan runs once, not twice
        val steps = graft.Caching.persistTracked(Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n")))
        val totals = steps.groupBy(col("from_type").as("ft"))
          .agg(sum(col("n")).as("tot"))
        steps.join(broadcast(totals), col("from_type") === col("ft"))
          .select(col("from_type"), col("to_type"), col("n"), col("tot"),
            (col("n").cast("double") / col("tot").cast("double")).as("p"))
      },
      sql"""WITH steps AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |cnt AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM steps WHERE to_type IS NOT NULL
        |  GROUP BY 1, 2),
        |tot AS (SELECT from_type AS ft, CAST(sum(n) AS BIGINT) AS tot FROM cnt GROUP BY 1)
        |SELECT from_type, to_type, n, tot,
        |       CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
        |FROM cnt JOIN tot ON from_type = ft"""),

    // Interval (range) self-join: event pairs of the same user within a
    // 60 s window, via the time-bucketed IntervalJoin operator — the
    // join key is (user, minute-bucket), not user alone, so a bot-grade
    // hot user costs work proportional to genuine nearby pairs, never
    // |user history|² (the round-1 residual scale risk).
    "q_interval_join" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
        graft.operators.IntervalJoin.selfPairs(ev, "user_id", "event_id", "ts_us",
            windowUs = 60000000L)
          .select(col("user_id"), col("event_id1"), col("event_id2"),
            expr("(_ts2 - _ts1) div 1000000").as("gap_secs"))
      },
      sql"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events)
        |SELECT a.user_id, a.event_id AS event_id1, b.event_id AS event_id2,
        |       (b.ts_us - a.ts_us) // 1000000 AS gap_secs
        |FROM ev a JOIN ev b ON a.user_id = b.user_id
        |  AND (b.ts_us > a.ts_us OR (b.ts_us = a.ts_us AND b.event_id > a.event_id))
        |  AND b.ts_us <= a.ts_us + 60000000""", coalesceByBytes = true),

    // Per-event ML feature engineering: lag gap + rolling counts/sums
    // over a bounded row frame — the per-entity feature shape a training
    // pipeline materializes (one shuffle on user, one sort, N features).
    "q_event_features" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc, col("event_id").asc)
        val prior10 = w.rowsBetween(-10, -1)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
          .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
          .withColumn("prev_gap_secs", expr("gap_us div 1000000"))
          .withColumn("n_prior_10", count(lit(1)).over(prior10))
          .withColumn("val_prior_10",
            sum(col("value").cast(DecimalType(18, 2))).over(prior10).cast("double"))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("prev_gap_secs"), col("n_prior_10"), col("val_prior_10"))
      },
      sql"""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |       (epoch_us(ts) - lag(epoch_us(ts)) OVER w) // 1000000 AS prev_gap_secs,
        |       count(*) OVER (w ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS n_prior_10,
        |       ${decimalSum("value", 2, "(w ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)")} AS val_prior_10
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)"""),

    // Backward as-of join (operator Spark lacks, composed Spark-first —
    // see operators/AsOfJoin): each 2024 event matched to the latest
    // order of the same key. Right side deduped to unique (key, ts) so
    // the match is deterministic in both engines.
    "q_asof_join" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
        val ords = Tables.orders(s, dir)
          .select(col("o_custkey").as("user_id"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"),
            col("o_orderkey"))
          .groupBy(col("user_id"), col("ts_us"))
          .agg(max(col("o_orderkey")).as("last_orderkey"))
        graft.operators.AsOfJoin.backward(ev, ords, key = "user_id", ts = "ts_us")
      },
      asofSql(">=")),

    // Forward as-of: each event matched to the user's NEXT order at or
    // after it (the "first following quote" direction; DuckDB's native
    // ASOF with the inequality flipped is the oracle).
    "q_asof_forward" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
        val ords = Tables.orders(s, dir)
          .select(col("o_custkey").as("user_id"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"),
            col("o_orderkey"))
          .groupBy(col("user_id"), col("ts_us"))
          .agg(max(col("o_orderkey")).as("last_orderkey"))
        graft.operators.AsOfJoin.forward(ev, ords, key = "user_id", ts = "ts_us")
      },
      asofSql("<=")),

    // Semi-structured payloads: JSON string column → typed extraction →
    // aggregate (the schema-on-read path for event property bags).
    "q_json_extract" -> QueryDef(
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      sql"""SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       min(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS min_k,
        |       max(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type"""),

    // Gap-based sessionization: per user, a new session starts when the
    // gap to the previous event exceeds 30 min. Two narrow windows over
    // the same (user_id, ts) shuffle — Spark reuses one sort; session
    // stats then aggregate by (user, session_idx).
    "q_sessionize" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        Tables.events(s, dir)
          .withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
          .withColumn("boundary",
            when(col("prev_us").isNull || col("ts_us") - col("prev_us") > SessionGapUs, 1L)
              .otherwise(0L))
          .withColumn("session_idx",
            sum(col("boundary")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts_us")).as("session_start_us"),
            max(col("ts_us")).as("session_end_us"))
          // integer division (`div`), NOT `/`: long / long is double in
          // Spark and DuckDB's double→bigint cast *rounds* while Spark's
          // truncates — div/`//` floor identically on both sides.
          .withColumn("duration_secs",
            expr("(session_end_us - session_start_us) div 1000000"))
      },
      sql"""WITH ${sessionCtes(SessionGapUs)}
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
        |       (max(ts_us) - min(ts_us)) // 1000000 AS duration_secs
        |FROM sessions GROUP BY user_id, session_idx""", coalesceByBytes = true),

    // The SAME session semantics via Spark's built-in session_window
    // (the streaming-capable formulation, run in batch) — verified
    // against the identical lag-based oracle. Two independent engines,
    // one answer.
    "q_session_window" -> QueryDef(
      (s, dir) => graft.streaming.StreamingOps.sessionWindows(
          Tables.events(s, dir), gap = "30 minutes", watermark = None)
        .select(col("user_id"), col("n_events"),
          unix_micros(col("first_ts")).as("session_start_us"),
          unix_micros(col("last_ts")).as("session_end_us")),
      sql"""WITH ${sessionCtes(SessionGapUs)}
        |SELECT user_id, count(*) AS n_events,
        |       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us
        |FROM sessions GROUP BY user_id, session_idx"""),

    // Per-user dense daily series (time-series gap filling / resample):
    // missing days between a user's first and last activity materialize
    // with n_events = 0 — the step every downstream rolling/retention
    // computation silently assumes. Axis generation is a per-key
    // sequence explode (rows ∝ span days), joined back keyed — no
    // calendar dimension scan, no cross join.
    "q_gap_fill" -> QueryDef(
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"))
        val axis = daily.groupBy(col("user_id"))
          .agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
          .select(col("user_id"), explode(sequence(col("_d0"), col("_d1"))).as("day"))
        axis.join(daily, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day"),
            coalesce(col("n_events"), lit(0L)).as("n_events"))
      },
      sql"""WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |axis AS (
        |  SELECT user_id, unnest([CAST(x AS DATE)
        |           for x in generate_series(CAST(min(day) AS TIMESTAMP),
        |                                    CAST(max(day) AS TIMESTAMP), INTERVAL 1 DAY)]) AS day
        |  FROM daily GROUP BY user_id)
        |SELECT axis.user_id, axis.day, coalesce(n_events, 0) AS n_events
        |FROM axis LEFT JOIN daily ON axis.user_id = daily.user_id AND axis.day = daily.day"""),

    // Sliding 1-hour windows every 15 minutes: Spark's window() Expand
    // replicates each event into width/slide = 4 overlapping buckets
    // before ONE keyed agg — the standard sliding-aggregate plan (state
    // ∝ open windows, not events). The oracle expands the same 4 slide
    // offsets explicitly. Distinct from q_events_hourly's tumbling
    // buckets (slide = width).
    "q_sliding_1h_15m" -> QueryDef(
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n_events")),
      sql"""SELECT ((epoch_us(ts) // 900000000) - i) * 900000000 AS window_start_us,
        |       event_type, count(*) AS n_events
        |FROM events CROSS JOIN generate_series(0, 3) AS g(i)
        |GROUP BY 1, 2""", coalesceByBytes = true),

    // Ordered 3-step funnel (view → click → purchase): each stage's
    // timestamp is the min STRICTLY AFTER the previous stage — the
    // sequence constraint product funnels mean, not three independent
    // mins. Three keyed aggs + joins, all on user_id (one partitioning
    // reused); per-user state is O(1).
    "q_funnel" -> QueryDef(
      (s, dir) => funnel(Tables.events(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"))),
      sql"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |u AS (SELECT DISTINCT user_id FROM ev),
        |v AS (SELECT user_id, min(ts_us) AS view_us FROM ev
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT ev.user_id, min(ts_us) AS click_us FROM ev JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND ts_us > view_us GROUP BY 1),
        |p AS (SELECT ev.user_id, min(ts_us) AS purchase_us FROM ev JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND ts_us > click_us GROUP BY 1)
        |SELECT u.user_id, view_us, click_us, purchase_us,
        |       CAST(CASE WHEN purchase_us IS NOT NULL THEN 3
        |                 WHEN click_us IS NOT NULL THEN 2
        |                 WHEN view_us IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |       LEFT JOIN p USING (user_id)"""),

    // Daily cohort retention: users grouped by first-activity day;
    // n_users = distinct users from that cohort active again
    // day_offset days later. Two keyed aggs on user_id + one on
    // (cohort_day, offset) — the classic retention triangle.
    "q_cohort_retention" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val coh = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
        ev.join(coh, Seq("user_id"))
          .groupBy(col("cohort_day"),
            datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      },
      sql"""WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |coh AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
        |SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
        |       count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN coh USING (user_id)
        |GROUP BY 1, 2""")
  )
}
