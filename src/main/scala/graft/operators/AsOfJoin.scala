package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join — for each left row, the single right row with the
  * greatest `ts` ≤ the left row's `ts`, per key. Spark has no ASOF join
  * operator; rather than a custom SparkPlan, this composes built-ins
  * (preference (a) of the custom-operator ladder):
  *
  *   tag both sides → unionByName → ONE shuffle on key + sort by
  *   (ts, side) → `last(_, ignoreNulls)` carry-forward window → keep
  *   left rows.
  *
  * That is exactly the merge phase of a sort-merge as-of join, planned
  * with a single exchange per side-union — the same shuffle volume a
  * native AsOfJoinExec would need. Ties: right rows sort BEFORE left
  * rows at equal ts (side 0 < 1), so ts-equal matches are included;
  * callers must make right (key, ts) unique for a deterministic match
  * (as any as-of semantics requires).
  *
  * Left-join semantics: unmatched left rows keep NULL right columns.
  *
  * NULL handling: NULL keys GROUP TOGETHER (window partitioning, not
  * SQL equality) — a NULL-key left row can match a NULL-key right row,
  * where a SQL ASOF equi-join would emit no match; NULL order keys
  * sort first, so a NULL-ts left row only ever sees NULL-ts right
  * rows. Pre-filter NULLs for SQL-equality semantics.
  */
object AsOfJoin {

  /** Ordering key for the merge: timestamps go through unix_micros —
    * a plain cast("long") truncates to whole seconds, which would make
    * sub-second as-of matching silently wrong. Dates order by epoch
    * day; numerics are taken as-is. TIMESTAMP_NTZ is rejected loudly:
    * any instant mapping routes it through the session timezone, which
    * is non-monotonic across DST gaps — callers must convert the wall
    * clock to an instant (or epoch value) with an explicit zone first. */
  private def orderKey(df: DataFrame, ts: String): org.apache.spark.sql.Column =
    df.schema(ts).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(ts))
      case org.apache.spark.sql.types.TimestampNTZType =>
        throw new IllegalArgumentException(
          s"AsOfJoin: column '$ts' is TIMESTAMP_NTZ; convert to TIMESTAMP " +
            "with an explicit zone (e.g. to_utc_timestamp) or to epoch " +
            "micros before joining — implicit session-zone conversion is " +
            "non-monotonic across DST transitions")
      case org.apache.spark.sql.types.DateType => unix_date(col(ts)).cast("long")
      // fractional numerics order as double — a cast("long") here would
      // truncate (right ts 1.7 "matching" left ts 1.2), the same silent
      // mis-merge class as whole-second timestamp truncation above.
      // DECIMAL is rejected in orderUnit (a double detour can collapse
      // distinct >2^53 values), so only float/double reach this arm.
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType => col(ts).cast("double")
      case _ => col(ts).cast("long")
    }

  /** The unit family an orderKey value lives in — both sides must agree
    * or the merge compares incompatible scales (micros vs epoch days)
    * and silently mis-orders. */
  private def orderUnit(df: DataFrame, ts: String): String =
    df.schema(ts).dataType match {
      case org.apache.spark.sql.types.TimestampType => "epoch-micros"
      // NTZ maps to a unit here so BOTH sides being NTZ still reaches
      // orderKey's specific, actionable rejection message
      case org.apache.spark.sql.types.TimestampNTZType => "wallclock-ntz"
      case org.apache.spark.sql.types.DateType => "epoch-days"
      // DECIMAL first (it is Fractional): its values can exceed double's
      // 2^53 exact-integer range, so BOTH numeric detours (long
      // truncates the scale, double collapses distinct values) are
      // silently wrong — reject with the fix in hand
      case d: org.apache.spark.sql.types.DecimalType =>
        throw new IllegalArgumentException(
          s"AsOfJoin: column '$ts' is ${d.sql}; scale it to an integral " +
            "epoch (e.g. multiply by 10^scale and cast to BIGINT) before " +
            "joining — a long cast truncates and a double cast can " +
            "collapse distinct values")
      // integral and fractional are DIFFERENT families: int-vs-double
      // sides would otherwise merge a truncated long against a double
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType => "numeric-fractional"
      case _: org.apache.spark.sql.types.NumericType => "numeric-integral"
      // anything else (STRING, BINARY, ...) would cast("long") to NULL
      // order keys and silently mis-merge — reject loudly instead
      case other => throw new IllegalArgumentException(
        s"AsOfJoin: column '$ts' has type ${other.sql}, which is not a " +
          "temporal or numeric order key; cast it to a timestamp/date/" +
          "numeric type explicitly before joining")
    }

  def backward(left: DataFrame, right: DataFrame, key: String, ts: String,
               rightPrefix: String = "r_"): DataFrame =
    merge(left, right, key, ts, rightPrefix, fwd = false)

  /** Forward as-of join — for each left row, the single right row with
    * the SMALLEST `ts` ≥ the left row's `ts`, per key (the "next quote
    * after the trade" direction). Same one-shuffle merge as [[backward]]
    * with the carry reversed: lefts sort BEFORE rights at equal ts, so a
    * ts-equal right row still matches, and `first(_, ignoreNulls)` over
    * [current, ∞) picks the earliest following right row. */
  def forward(left: DataFrame, right: DataFrame, key: String, ts: String,
              rightPrefix: String = "r_"): DataFrame =
    merge(left, right, key, ts, rightPrefix, fwd = true)

  private def merge(left: DataFrame, right: DataFrame, key: String, ts: String,
                    rightPrefix: String, fwd: Boolean): DataFrame = {
    val (lu, ru) = (orderUnit(left, ts), orderUnit(right, ts))
    require(lu == ru,
      s"AsOfJoin: '$ts' resolves to different order units on the two sides " +
        s"(left $lu vs right $ru) — the merge would compare incompatible " +
        "scales; cast both sides to the same temporal/numeric type first")
    val rStructCols = right.columns.filterNot(_ == key).map(col)
    val rStructType = right.select(struct(rStructCols: _*).as("_r")).schema("_r").dataType

    // tie order puts the right side INSIDE the frame at equal ts for
    // both directions: backward frame ends at current row → rights
    // first; forward frame starts at current row → lefts first
    val (leftSide, rightSide) = if (fwd) (0, 1) else (1, 0)
    val l = left.select(
      col(key).as("_k"), orderKey(left, ts).as("_ts"), lit(leftSide).as("_side"),
      struct(left.columns.map(col): _*).as("_lrow"),
      lit(null).cast(rStructType).as("_rrow"))
    val r = right.select(
      col(key).as("_k"), orderKey(right, ts).as("_ts"), lit(rightSide).as("_side"),
      lit(null).cast(l.schema("_lrow").dataType).as("_lrow"),
      struct(rStructCols: _*).as("_rrow"))

    val ordered = Window.partitionBy(col("_k"))
      .orderBy(col("_ts").asc, col("_side").asc)
    val (w, pick) =
      if (fwd)
        (ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing),
          first(col("_rrow"), ignoreNulls = true))
      else
        (ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow),
          last(col("_rrow"), ignoreNulls = true))

    val carried = l.unionByName(r)
      .withColumn("_match", pick.over(w))
      .filter(col("_side") === leftSide)

    val leftOut = left.columns.map(c => col(s"_lrow.$c").as(c))
    val rightOut = right.columns.filterNot(_ == key)
      .map(c => col(s"_match.$c").as(s"$rightPrefix$c"))
    carried.select(leftOut ++ rightOut: _*)
  }
}
