package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, ValueState}

/** Structured Streaming surface. The reference declares spark-streaming
  * but never uses it (SURVEY §2.8) — this is the capability extension:
  * the same aggregation shapes as the batch queries, expressed over an
  * unbounded stream with watermarks, plus custom-state sessionization.
  *
  * Each builder takes a DataFrame that may be batch OR streaming — the
  * plans are identical; only the sink mode differs. That's the point:
  * one declarative definition, Catalyst plans both.
  */
object StreamingOps {

  /** Tumbling 1-hour counts per event type (streaming mirror of
    * q_events_hourly). Late data beyond the watermark is dropped;
    * in append mode a bucket emits once its watermark passes. */
  def hourlyEventCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("bucket"), col("event_type"))
      // moneySum, not a raw double sum: the batch mirror q_events_hourly
      // aggregates this column decimally, and a double fold accumulates
      // in micro-batch/partition order — nondeterministic across re-runs
      .agg(count(lit(1)).as("n_events"),
        graft.functions.ColFns.moneySum(col("value"), 2).as("total_value"))
      .select(col("bucket.start").as("bucket_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Gap-based sessions via the built-in session_window — works over
    * batch AND streams (merging windows within `gap`).
    *
    * Boundary contract: a session splits only when the gap is EXCEEDED —
    * two events exactly `gap` apart share a session, matching the
    * lag-based q_sessionize and its DuckDB oracle (strict `>`); Spark's
    * session_window is half-open (splits AT the gap), so one microsecond
    * is added to the window duration to align the two engines. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermark: Option[String] = Some("1 hour")): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(col("user_id"), session_window(col("ts"), s"$gap 1 microsecond").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("n_events"), col("first_ts"), col("last_ts"))
  }

  /** The reference's Q1 aggregation (monthly item counts) over an
    * append-only billing stream (SURVEY §2.8 optional extension). Works
    * batch AND streaming; calendar months aren't fixed intervals so the
    * streaming form runs in update mode on a derived month key (state
    * grows O(months × items) — vocabulary-bounded). Top-k ranking stays
    * a batch pass over the maintained counts. */
  def monthlyItemCounts(billings: DataFrame): DataFrame =
    billings
      .select(date_format(col("ts"), "yyyy-MM").as("month"), explode(col("items")).as("item"))
      .groupBy(col("month"), col("item"))
      .agg(count(lit(1)).as("cnt"))

  /** Q2 streaming: per-item monthly revenue over a priced-line stream
    * (ts, item, unitCost). Decimal accumulation so maintained state is
    * exact under any micro-batch slicing. */
  def monthlyRevenue(pricedLines: DataFrame): DataFrame =
    pricedLines
      .groupBy(date_format(col("ts"), "yyyy-MM").as("month"), col("item"))
      .agg(graft.functions.ColFns.moneySum(col("unitCost"), 2).as("total"))

  /** Q3 streaming: maintained item and pair counts over a billing stream
    * (ts, items ARRAY<STRING>) — pair generation via the custom
    * PairsGenerator runs map-side per micro-batch; update-mode state is
    * two vocabulary-bounded count tables. Support/confidence are a
    * cheap batch projection over the maintained counts (the reference's
    * accumulator pre-pass becomes a third running count). */
  def basketCounts(billings: DataFrame): (DataFrame, DataFrame, DataFrame) =
    graft.operators.AssocRules.basketCounts(billings, "items")

  /** Watermarked stream-stream inner join: right events attributed to a
    * left event of the same key within `[leftTs, leftTs + within]` (the
    * impression→click attribution shape). Both sides carry watermarks
    * and the join condition is time-bounded, so each side's buffered
    * state is evicted once the other stream's watermark passes — state
    * is O(events in the attribution window), not unbounded (the
    * requirement for a stream-stream join to run at all in Append mode,
    * and for 100 TB/day streams to hold steady-state memory).
    *
    * Non-key column names must be disjoint between the two sides
    * (standard Spark join-ambiguity rule; callers prefix their
    * columns). The right key is renamed internally for the equi-clause
    * and dropped from the output.
    *
    * `joinType = "left_outer"`: the attribution pipeline's OTHER half —
    * left rows that found no right row within the window emit ONCE,
    * with NULL right columns, and only when the watermark passes the
    * row's match window (state expiry — emitting earlier could be
    * wrong, a match may still arrive; never emitting leaks the
    * unattributed impressions a funnel analysis needs). The emission
    * rides the watermark, so a replay must push it past every left
    * row's window before reading the sink (q_stream_outer's two-
    * sentinel seal, the q_stream_sessionize discipline).
    *
    * `joinType = "full_outer"`: BOTH unmatched sides emit on expiry —
    * the output key is coalesced from whichever side is present (for
    * inner/left joins the coalesce is the left key unchanged). */
  def joinWithinWatermark(left: DataFrame, right: DataFrame, key: String,
                          leftTs: String, rightTs: String,
                          within: String = "1 hour",
                          lateness: Option[String] = None,
                          joinType: String = "inner"): DataFrame = {
    // lateness (allowed out-of-orderness) and the attribution window are
    // independent knobs: a 7-day window with minutes of lateness should
    // not buffer 7 days of state on both sides. Defaults to `within`.
    val wm = lateness.getOrElse(within)
    val l = left.withWatermark(leftTs, wm)
    val r = right.withColumnRenamed(key, s"${key}_r").withWatermark(rightTs, wm)
    l.join(r, expr(
      s"$key = ${key}_r AND $rightTs >= $leftTs AND $rightTs <= $leftTs + interval '$within'"),
      joinType)
      // right-expiry rows (full/right outer) carry the key ONLY in the
      // renamed right column; for inner/left joins this coalesce is
      // exactly the left key
      .withColumn(key, coalesce(col(key), col(s"${key}_r")))
      .drop(s"${key}_r")
  }

  /** Streaming exact dedup: first arrival per key wins, duplicates
    * arriving within the watermark horizon are dropped. State is the
    * dedup key set bounded BY the watermark (expired keys evicted) —
    * the streaming counterpart of Dedup.exact, and the standard
    * at-least-once → effectively-once repair stage in an event
    * ingestion pipeline. A duplicate later than the watermark horizon
    * is out of contract (same as any watermarked operator). */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
                           tsCol: String = "ts",
                           watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  // ------------------------- custom state: flatMapGroupsWithState -----

  final case class Ev(user_id: Long, ts: java.sql.Timestamp,
                      event_type: String, value: Double)
  final case class SessionState(startUs: Long, endUs: Long, n: Long, total: Double)
  final case class OpenSessions(sessions: List[SessionState])
  final case class SessionOut(user_id: Long, session_start_us: Long,
                              session_end_us: Long, n_events: Long, total_value: Double)

  /** Sessionization with explicit state (the KeyValueGroupedDataset
    * .flatMapGroupsWithState surface). State holds ALL open sessions of
    * a user (not just the latest): above-watermark stragglers open their
    * own session and can merge with later stragglers, and an event
    * bridging two open sessions collapses them into one. A session is
    * emitted ONLY once the event-time watermark passes its end + gap —
    * at that point no admissible event can extend it — never eagerly on
    * a gap-after event, so no split/duplicate sessions.
    *
    * State is per-user O(open sessions within the watermark window) — at
    * 100 TB the state store scales with |active users in a gap window|,
    * not with history. */
  def sessionizeWithState(events: Dataset[Ev], gapMinutes: Long = 30,
                          watermark: String = "1 hour"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    /** Emit sessions the watermark has sealed; park the rest in state
      * with the timeout on the earliest still-open end. */
    def expire(userId: Long, all: List[SessionState], wmMs: Long,
               state: GroupState[OpenSessions]): Iterator[SessionOut] = {
      // Seal in MICROSECONDS: a session is closed only when no
      // admissible event (tUs <= endUs + gapUs) can still arrive, i.e.
      // endUs + gapUs < watermark_us. The former ms-floored test
      // (endUs/1000 + gapMs <= wmMs) sealed up to 999 µs early: an
      // exactly-gap-apart event with a sub-ms part was NOT late by the
      // watermark, arrived in a later micro-batch, found its session
      // already emitted, and produced the split/duplicate sessions the
      // contract rules out.
      val (closed, open) = all.partition(s => s.endUs + gapUs < wmMs * 1000L)
      if (open.nonEmpty) {
        state.update(OpenSessions(open))
        // +1 ms: the timeout must sit STRICTLY above the current
        // watermark (floor division can land exactly on wmMs), and
        // firing at wm > ts guarantees wm_us > minEndUs + gapUs
        state.setTimeoutTimestamp((open.map(_.endUs).min + gapUs) / 1000L + 1L)
      } else state.remove()
      closed.sortBy(_.startUs).iterator
        .map(s => SessionOut(userId, s.startUs, s.endUs, s.n, s.total))
    }

    def fn(userId: Long, rows: Iterator[Ev],
           state: GroupState[OpenSessions]): Iterator[SessionOut] = {
      val wmMs = state.getCurrentWatermarkMs()
      if (state.hasTimedOut) {
        expire(userId, state.get.sessions, wmMs, state)
      } else {
        // full microsecond precision: getTime carries millis, getNanos
        // the sub-second part (so sub-ms events agree with the batch
        // queries' unix_micros). floorDiv, not /: getTime truncates
        // toward zero for pre-epoch instants while getNanos is always
        // positive, so plain division lands a 1969 sub-second timestamp
        // on the wrong side of the epoch
        def micros(t: java.sql.Timestamp): Long =
          Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
        var sessions = state.getOption.map(_.sessions).getOrElse(Nil)
        rows.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
          val tUs = micros(e.ts)
          val (touched, rest) = sessions.partition(s =>
            tUs >= s.startUs - gapUs && tUs <= s.endUs + gapUs)
          val merged = touched.foldLeft(SessionState(tUs, tUs, 1, e.value)) { (acc, s) =>
            SessionState(math.min(acc.startUs, s.startUs), math.max(acc.endUs, s.endUs),
              acc.n + s.n, acc.total + s.total)
          }
          sessions = merged :: rest
        }
        expire(userId, sessions, wmMs, state)
      }
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  // ------------------------- streaming cardinality: HLL registers ----

  final case class HllRegs(mx: Seq[Long])
  final case class HllEstimate(event_type: String, regs_hit: Long,
                               harmonic: Long, hll_estimate: Double)

  /** JVM replica of [[graft.operators.Dedup.portableHash64]]'s column
    * expression (md5 hex, first 15 chars base-16): StreamingHllSpec
    * pins the streamed registers EQUAL to the batch sketch, which only
    * holds if this hash is bit-identical to the SQL one. */
  private[graft] def portableHash64Jvm(s: String): Long =
    // delegate to the ONE definition (ThreadLocal-reused digest —
    // getInstance per call is a provider-registry lookup on the
    // per-event hot path; a second copy of the fold is also a silent
    // batch/stream drift risk)
    graft.functions.PortableHash60.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))

  /** Per-event-type distinct-user cardinality over an unbounded stream
    * with BOUNDED state: the [[graft.operators.Hll]] register array (64
    * longs per key, ever) maintained in a typed ValueState, one updated
    * estimate row per key per micro-batch. A windowed count-distinct
    * holds every key it has seen; this holds 512 bytes per group key no
    * matter how many users flow through — the streaming face of the
    * batch sketch, and the two agree EXACTLY (same hash, same integer
    * registers, same single division; pinned by StreamingHllSpec).
    */
  class HllProcessor extends StatefulProcessor[String, Ev, HllEstimate] {
    @transient private var state: ValueState[HllRegs] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[HllRegs]("hll", Encoders.product[HllRegs],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[HllEstimate] = {
      val m = graft.operators.Hll.M
      val regs = Option(state.get()).map(_.mx.toArray).getOrElse(new Array[Long](m))
      rows.foreach { e =>
        val h = portableHash64Jvm(e.user_id.toString)
        val reg = (h >>> 54).toInt
        val rest = h & ((1L << 54) - 1)
        val rho = if (rest == 0) 55L else 55L - (64 - java.lang.Long.numberOfLeadingZeros(rest))
        if (rho > regs(reg)) regs(reg) = rho
      }
      state.update(HllRegs(regs.toSeq))
      val hit = regs.count(_ > 0)
      val harmonic = regs.filter(_ > 0).map(mx => 1L << (55 - mx).toInt).sum +
        (m - hit).toLong * (1L << 55)
      Iterator.single(HllEstimate(key, hit.toLong, harmonic,
        graft.operators.Hll.EstNumerator / harmonic.toDouble))
    }
  }

  def distinctUsersSketch(events: Dataset[Ev]): Dataset[HllEstimate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new HllProcessor, TimeMode.None(), OutputMode.Update())
  }

  // ---------------------- streaming heavy hitters (Misra–Gries) -------

  final case class MgEntry(item: String, cnt: Long)
  final case class MgState(entries: List[MgEntry], n: Long)
  final case class HeavyHitters(event_type: String, n: Long, candidates: List[String])

  /** Per-key heavy hitters over an unbounded stream with BOUNDED state:
    * the classic sequential Misra–Gries update (k counters, decrement-
    * all on overflow) maintained in a typed ValueState — ≤ k entries per
    * group key, EVER. The guarantee is the batch operator's
    * ([[graft.functions.FreqSketch]]): after n rows, every item with
    * true frequency > n/(k+1) is among the candidates (undercount ≤
    * n/(k+1)); the candidate SETS of the streamed and merge-based batch
    * paths may differ in the don't-care region, so the cross-check pins
    * the guarantee, not set equality. */
  class HeavyHittersProcessor(k: Int) extends StatefulProcessor[String, Ev, HeavyHitters] {
    @transient private var state: ValueState[MgState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[MgState]("mg", Encoders.product[MgState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[HeavyHitters] = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      Option(state.get()).foreach { st =>
        st.entries.foreach(e => m.update(e.item, e.cnt)); n = st.n
      }
      rows.foreach { e =>
        n += 1L
        val item = e.user_id.toString
        m.get(item) match {
          case Some(c) => m.update(item, c + 1L)
          case None =>
            if (m.size < k) m.update(item, 1L)
            else {
              val dead = scala.collection.mutable.ArrayBuffer.empty[String]
              m.mapValuesInPlace((_, c) => c - 1L)
              m.foreach { case (s, c) => if (c <= 0L) dead += s }
              dead.foreach(m.remove)
            }
        }
      }
      state.update(MgState(m.toList.map(e => MgEntry(e._1, e._2)).sortBy(_.item), n))
      Iterator.single(HeavyHitters(key, n, m.keys.toList.sorted))
    }
  }

  def heavyHittersSketch(events: Dataset[Ev], k: Int): Dataset[HeavyHitters] = {
    // k <= 0 would silently emit empty candidate lists forever (the
    // m.size < k insert branch never fires) — fail loudly instead
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new HeavyHittersProcessor(k), TimeMode.None(), OutputMode.Update())
  }

  // --------------------- streaming frequency: count-min sketch -------

  final case class CmsState(counters: Seq[Long], n: Long)
  final case class CmsSummary(event_type: String, n: Long, nonzero: Long,
                              max_c: Long, probe_est: Long)

  /** Per-event-type count-min frequency sketch over user occurrences
    * with BOUNDED state: the [[graft.operators.Cms]] d×w counter array
    * (4×2048 longs ≈ 64 KiB per group key, EVER) in a typed ValueState
    * — the streaming face of the batch sketch, and the two agree
    * EXACTLY: same md5-derived 60-bit hash, same bit-slice buckets,
    * and counters are pure integer sums, so micro-batch boundaries
    * cannot change any counter value (order-free — the streamed
    * counter array after n events ≡ the batch array over the same
    * rows, pinned by StreamingSpec). Each update emits the exact event
    * count, occupied-counter/max stats, and the point estimate for
    * `probeId` — a direct array min that counts EMPTY buckets as zero,
    * the [[graft.operators.Cms.pointEstimates]] membership-probe
    * semantics. */
  class CmsProcessor(probeId: String) extends StatefulProcessor[String, Ev, CmsSummary] {
    @transient private var state: ValueState[CmsState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CmsState]("cms", Encoders.product[CmsState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[CmsSummary] = {
      val d = graft.operators.Cms.D
      val w = graft.operators.Cms.W
      val st = Option(state.get())
      val cs = st.map(_.counters.toArray).getOrElse(new Array[Long](d * w))
      var n = st.map(_.n).getOrElse(0L)
      rows.foreach { e =>
        val h = portableHash64Jvm(e.user_id.toString)
        var i = 0
        while (i < d) { cs(i * w + ((h >>> (11 * i)) % w).toInt) += 1L; i += 1 }
        n += 1L
      }
      state.update(CmsState(cs.toSeq, n))
      val ph = portableHash64Jvm(probeId)
      var probe = Long.MaxValue
      var i = 0
      while (i < d) {
        val c = cs(i * w + ((ph >>> (11 * i)) % w).toInt)
        if (c < probe) probe = c
        i += 1
      }
      var nonzero = 0L; var maxc = 0L; var j = 0
      while (j < cs.length) {
        val c = cs(j)
        if (c > 0L) nonzero += 1L
        if (c > maxc) maxc = c
        j += 1
      }
      Iterator.single(CmsSummary(key, n, nonzero, maxc, probe))
    }
  }

  def frequencySketch(events: Dataset[Ev], probeId: String): Dataset[CmsSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new CmsProcessor(probeId), TimeMode.None(), OutputMode.Update())
  }
}
