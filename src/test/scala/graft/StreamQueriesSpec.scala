package graft

import org.apache.spark.sql.functions._

/** The registered streaming queries (StreamQueries) replay events
  * through real micro-batches and are DuckDB-gated by Verify; this spec
  * pins the same streamed ≡ batch equivalences inside `sbt test`, so a
  * streaming regression fails the suite without waiting for the oracle
  * gate. sf0.001 keeps the replay cheap. */
class StreamQueriesSpec extends SparkSpec {

  test("q_stream_sessionize rows equal the batch lag-based sessionization") {
    val streamed = SparkEntry.queries("q_stream_sessionize")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = SparkEntry.queries("q_sessionize")(spark, sf001)
      .select(col("user_id"), col("session_start_us"),
        col("session_end_us"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("q_stream_hll rows equal the batch portable HLL sketch") {
    val streamed = SparkEntry.queries("q_stream_hll")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val ev = Tables.events(spark, sf001)
    val batch = graft.operators.Hll.cardinality(ev, Seq("event_type"), col("user_id"))
      .select(col("event_type"), col("regs_hit"), col("harmonic"), col("hll_estimate"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("q_stream_hourly buckets equal the batch hourly aggregation") {
    val streamed = SparkEntry.queries("q_stream_hourly")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = SparkEntry.queries("q_events_hourly")(spark, sf001)
      .select(col("hour"), col("event_type"), col("n_events"), col("total_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("q_stream_join pairs equal the batch 30-minute interval self-join") {
    val streamed = SparkEntry.queries("q_stream_join")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // same deterministic quarter of the users the query replays
    val ev = Tables.events(spark, sf001)
      .filter(pmod(col("user_id"), lit(4)) === 0)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
    val batch = ev.toDF("user_id", "l_us", "l_event_id")
      .join(ev.toDF("user_id", "r_us", "r_event_id"), Seq("user_id"))
      .filter(col("r_us") >= col("l_us") && col("r_us") <= col("l_us") + 1800000000L)
      .select(col("user_id"), col("l_event_id"), col("r_event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("q_stream_outer rows equal the batch LEFT JOIN with the match window") {
    val streamed = SparkEntry.queries("q_stream_outer")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = Tables.events(spark, sf001)
      .filter(pmod(col("user_id"), lit(4)) === 0)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
    // batch left-join reference, built with an explicit keyed left join
    val l = ev.toDF("uid", "l_us", "l_event_id")
    val r = ev.filter(col("event_id") % 3 === 0).toDF("uid", "r_us", "r_event_id")
    val ref = l.join(r,
        l("uid") === r("uid") && col("r_us") >= col("l_us") &&
          col("r_us") <= col("l_us") + 1800000000L, "left_outer")
      .select(l("uid"), col("l_event_id"),
        coalesce(col("r_event_id"), lit(-1L)).as("r_event_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(streamed == ref)
    assert(streamed.exists(_._3 == -1L), "no unmatched-left rows — fixture vacuous")
    assert(streamed.exists(_._3 >= 0L), "no matched rows — fixture vacuous")
  }

  test("left-outer NULL rows emit ONLY at watermark expiry, exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import java.sql.Timestamp
    val t0 = 1700000000000L
    // L1 matched by R1 (same user, +5 min); L2 unmatched forever
    val msL = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Timestamp, Long)]
    val msR = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Timestamp, Long)]
    val q = graft.streaming.StreamingOps.joinWithinWatermark(
        msL.toDF().toDF("user_id", "l_ts", "l_event_id"),
        msR.toDF().toDF("user_id", "r_ts", "r_event_id"),
        "user_id", "l_ts", "r_ts", within = "30 minutes", joinType = "left_outer")
      .select(col("user_id"), col("l_event_id"), col("r_event_id"))
      .writeStream.format("memory").queryName("outer_expiry_pin")
      .outputMode("append").start()
    try {
      msL.addData((1L, new Timestamp(t0), 10L), (2L, new Timestamp(t0), 20L))
      msR.addData((1L, new Timestamp(t0 + 300000L), 11L))
      q.processAllAvailable()
      val early = spark.table("outer_expiry_pin").collect()
      // BEFORE expiry: the match is out, the unmatched row is NOT — a
      // right row may still arrive; emitting early would be wrong
      assert(early.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 10L)))
      assert(early.forall(!_.isNullAt(2)))
      // sentinel pair pushes the watermark past L2's window; the second
      // one makes the seal ride a DATA batch
      val sA = (-1L, new Timestamp(t0 + 6L * 3600L * 1000L), -1L)
      val sB = (-1L, new Timestamp(sA._2.getTime + 1000L), -1L)
      msL.addData(sA); msR.addData(sA); q.processAllAvailable()
      msL.addData(sB); msR.addData(sB); q.processAllAvailable()
      val rows = spark.table("outer_expiry_pin")
        .filter(col("user_id") >= 0).collect()
      val nullRows = rows.filter(_.isNullAt(2)).map(r => (r.getLong(0), r.getLong(1)))
      assert(nullRows.toSeq == Seq((2L, 20L)),
        s"expiry emission wrong: ${nullRows.toSeq}")
      // matched left row must NOT also get a null row
      assert(rows.count(r => r.getLong(1) == 10L) == 1)
    } finally q.stop()
  }

  test("full-outer: BOTH sides' orphans emit only at expiry, keys coalesced") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import java.sql.Timestamp
    val t0 = 1700000000000L
    // L1(u1) matched by R1(u1, +5 min); L2(u2) a left orphan;
    // R2(u3) a right orphan — u3 has NO left row at all
    val msL = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Timestamp, Long)]
    val msR = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Timestamp, Long)]
    val q = graft.streaming.StreamingOps.joinWithinWatermark(
        msL.toDF().toDF("user_id", "l_ts", "l_event_id"),
        msR.toDF().toDF("user_id", "r_ts", "r_event_id"),
        "user_id", "l_ts", "r_ts", within = "30 minutes", joinType = "full_outer")
      .select(col("user_id"), col("l_event_id"), col("r_event_id"))
      .writeStream.format("memory").queryName("full_outer_expiry_pin")
      .outputMode("append").start()
    try {
      msL.addData((1L, new Timestamp(t0), 10L), (2L, new Timestamp(t0), 20L))
      msR.addData((1L, new Timestamp(t0 + 300000L), 11L),
        (3L, new Timestamp(t0 + 300000L), 31L))
      q.processAllAvailable()
      val early = spark.table("full_outer_expiry_pin").collect()
      // BEFORE expiry: only the match — neither orphan may emit early
      assert(early.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        == Set((1L, 10L, 11L)))
      val sA = (-1L, new Timestamp(t0 + 6L * 3600L * 1000L), -1L)
      val sB = (-1L, new Timestamp(sA._2.getTime + 1000L), -1L)
      msL.addData(sA); msR.addData(sA); q.processAllAvailable()
      msL.addData(sB); msR.addData(sB); q.processAllAvailable()
      val rows = spark.table("full_outer_expiry_pin")
        .filter(col("user_id") >= 0).collect()
      // left orphan: NULL right id; right orphan: NULL left id with the
      // key coalesced from the RIGHT side (the helper's coalesce pin)
      val leftOrphans = rows.filter(_.isNullAt(2)).map(r => (r.getLong(0), r.getLong(1)))
      val rightOrphans = rows.filter(_.isNullAt(1)).map(r => (r.getLong(0), r.getLong(2)))
      assert(leftOrphans.toSeq == Seq((2L, 20L)), s"left orphans: ${leftOrphans.toSeq}")
      assert(rightOrphans.toSeq == Seq((3L, 31L)), s"right orphans: ${rightOrphans.toSeq}")
      // the match emits exactly once — no duplicate null-extended row
      assert(rows.count(r => !r.isNullAt(1) && r.getLong(1) == 10L) == 1)
      assert(rows.length == 3)
    } finally q.stop()
  }

  test("q_stream_cdc snapshot equals global latest-per-key minus deletes") {
    val streamed = SparkEntry.queries("q_stream_cdc")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSet
    val batch = Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("value"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").desc, col("event_id").desc)))
      .filter(col("rn") === 1 && pmod(col("event_id"), lit(10)) =!= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("watermark drop rule: end<=wm boundary drops, and no watermark flips the gate") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.Ev
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val H = 3600000L
    val B = 500000L * H // a clean hour boundary
    def ev(ms: Long) = Ev(1L, new Timestamp(ms), "t", 0.0)
    // batch 1 fixes wm = (B+10h) − delay; batch 2 probes the rule:
    //   B+30m    → window end B+1h   < wm (1h delay) → dropped
    //   B+8h30m  → window end B+9h  == wm            → dropped (<= rule)
    //   B+9h30m  → window end B+10h  > wm            → kept
    def run(watermark: String): (Map[Long, Long], Long) = {
      val ms = MemoryStream[Ev]
      val q = StreamingOps.hourlyEventCounts(ms.toDF(), watermark)
        .writeStream.format("memory").queryName("graft_spec_late")
        .outputMode("append").start()
      try {
        ms.addData(ev(B + H / 2), ev(B + 10 * H)); q.processAllAvailable()
        ms.addData(ev(B + H / 2), ev(B + 8 * H + H / 2), ev(B + 9 * H + H / 2))
        q.processAllAvailable()
        ms.addData(Ev(-1L, new Timestamp(B + 2000 * H), "sentinel", 0.0))
        q.processAllAvailable()
        ms.addData(Ev(-1L, new Timestamp(B + 2001 * H), "sentinel", 0.0))
        q.processAllAvailable()
      } finally q.stop()
      val dropped = q.recentProgress.iterator
        .flatMap(_.stateOperators.iterator).map(_.numRowsDroppedByWatermark).sum
      val counts = spark.table("graft_spec_late")
        .filter(col("event_type") === "t")
        .select(unix_millis(col("bucket_start")), col("n_events"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (counts, dropped)
    }
    val (withWm, droppedWm) = run("1 hour")
    assert(withWm == Map(B -> 1L, (B + 9 * H) -> 1L, (B + 10 * H) -> 1L),
      s"kept windows with watermark: $withWm")
    assert(droppedWm == 2L, // two dropped GROUPS, incl. the end==wm boundary
      s"expected 2 dropped groups (one at the end==wm boundary), got $droppedWm")
    // an effectively-absent watermark (delay longer than the whole
    // replay span, so wm stays below every window when the late batch
    // arrives; the 2000-hour sentinels still seal) drops nothing — the
    // flipped gate
    val (noWm, droppedNo) = run("48 hours")
    assert(noWm == Map(B -> 2L, (B + 8 * H) -> 1L, (B + 9 * H) -> 1L, (B + 10 * H) -> 1L),
      s"kept windows without watermark: $noWm")
    assert(droppedNo == 0L)
  }

  test("q_stream_late streamed rows equal the batch watermark-rule recomputation") {
    val streamed = SparkEntry.queries("q_stream_late")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val dropped = streamed.filter(_._1 == "__dropped")
    assert(dropped.length == 1 && dropped.head._3 > 0L,
      s"late replay must actually drop groups: $dropped")
    // batch recomputation of the kept set + dropped-group count
    val ev = Tables.events(spark, sf001)
      .select(col("user_id"), col("ts"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
    val wmUs = ev.filter(pmod(col("user_id"), lit(7)) =!= 0)
      .agg(((max(col("ts_us")).divide(1000L).cast("long") - 3600000L) * 1000L).as("wm"))
      .head().getLong(0)
    val kept = ev.filter(pmod(col("user_id"), lit(7)) =!= 0).unionByName(
      ev.filter(pmod(col("user_id"), lit(7)) === 0 &&
        (col("ts_us").divide(3600000000L).cast("long") + 1L) * 3600000000L > wmUs))
    val batch = kept.groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), graft.functions.ColFns.moneySum(col("value"), 2).as("tv"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val droppedGroups = ev.filter(pmod(col("user_id"), lit(7)) === 0 &&
        (col("ts_us").divide(3600000000L).cast("long") + 1L) * 3600000000L <= wmUs)
      .select(col("ts_us").divide(3600000000L).cast("long").as("w"), col("event_type"))
      .distinct().count()
    assert(streamed.filterNot(_._1 == "__dropped").toSet == batch)
    assert(dropped.head._3 == droppedGroups)
  }

  test("collectReplay fences oversized replay slices loudly") {
    import spark.implicits._
    val small = spark.range(10).map(_.toInt)
    // at or under the cap: passes through
    assert(graft.queries.StreamQueries.collectReplay(small, "t", cap = 10).length == 10)
    // over the cap: the harness must refuse BEFORE building the array
    val e = intercept[IllegalArgumentException](
      graft.queries.StreamQueries.collectReplay(spark.range(11).map(_.toInt), "t", cap = 10))
    assert(e.getMessage.contains("replay harness"))
  }

  test("ReplayShared memo keys are regeneration-fingerprinted: a rewritten sf dir yields a fresh key and a rebuild") {
    import graft.queries.StreamQueries
    val d = java.nio.file.Files.createTempDirectory("graft_sfkey").toString
    val f = java.nio.file.Paths.get(d, "embeddings.parquet")
    try {
      java.nio.file.Files.write(f, "v1-bytes".getBytes("UTF-8"))
      val k1 = StreamQueries.sfKey("spec_t", d)
      assert(StreamQueries.ReplayShared.memo(k1)("built-1") == "built-1")
      // unchanged dir → same key → memo HIT (the build thunk is ignored)
      assert(StreamQueries.ReplayShared.memo(
        StreamQueries.sfKey("spec_t", d))("built-2") == "built-1")
      // "regenerated" dir (driver rewrote the parquet in place, length
      // changed) → the key itself changes, so the memo REBUILDS — the
      // r18 finding: a path-only key would serve the stale slice here
      java.nio.file.Files.write(f, "v2-longer-bytes".getBytes("UTF-8"))
      val k2 = StreamQueries.sfKey("spec_t", d)
      assert(k2 != k1, "sfToken must change when the dir's content does")
      assert(StreamQueries.ReplayShared.memo(k2)("built-2") == "built-2")
    } finally {
      java.nio.file.Files.deleteIfExists(f)
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(d))
    }
  }

  test("seeded-template keys carry the quantizer content token, not just the sf dir") {
    import graft.queries.StreamQueries
    import graft.operators.Similarity
    // a different k or different centroid floats → a different token →
    // a different template (the r18 ADVICE finding: the template memos
    // used to ignore their quantizer/manifest arguments entirely)
    val t44 = StreamQueries.centsToken(Similarity.hashCentroids(4, 4))
    assert(t44 != StreamQueries.centsToken(Similarity.hashCentroids(8, 4)))
    assert(t44 != StreamQueries.centsToken(Similarity.hashCentroids(4, 8)))
    assert(t44 != StreamQueries.centsToken(
      Similarity.hashCentroids(4, 4, tag = "other")))
    // deterministic: the same frozen quantizer always tokens the same
    assert(t44 == StreamQueries.centsToken(Similarity.hashCentroids(4, 4)))
    assert(t44.startsWith("4x4#"))
  }

  test("a regenerated dir evicts the previous generation's memo entries and deletes its template tree") {
    import graft.queries.StreamQueries
    val d = java.nio.file.Files.createTempDirectory("graft_evict").toString
    val f = java.nio.file.Paths.get(d, "embeddings.parquet")
    try {
      java.nio.file.Files.write(f, "gen1".getBytes("UTF-8"))
      val k1 = StreamQueries.sfKey("spec_ev", d)
      StreamQueries.ReplayShared.memo(k1)(Array.fill(4)(1L))
      val t1 = StreamQueries.ReplayShared.seededTemplate(
        StreamQueries.sfKey("spec_ev_tpl", d)) { dir =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, "seed.bin"), "x".getBytes("UTF-8"))
      }
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(t1)))
      // regeneration: both tags' next lookups miss under new keys and
      // must evict the stranded generation — the slice from the heap,
      // the template from /dev/shm (the r19 review finding: without
      // eviction a long-lived session grows both monotonically)
      java.nio.file.Files.write(f, "gen2-longer".getBytes("UTF-8"))
      val k2 = StreamQueries.sfKey("spec_ev", d)
      assert(k2 != k1)
      StreamQueries.ReplayShared.memo(k2)(Array.fill(4)(2L))
      val t2 = StreamQueries.ReplayShared.seededTemplate(
        StreamQueries.sfKey("spec_ev_tpl", d)) { dir =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, "seed.bin"), "y".getBytes("UTF-8"))
      }
      assert(t2 != t1)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t1)),
        "the stranded template generation must be deleted on eviction")
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(t2)))
    } finally {
      java.nio.file.Files.deleteIfExists(f)
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(d))
    }
  }

  test("the replay driver deletes its scratch dir and restores its confs when start or a fed batch fails") {
    import graft.queries.StreamQueries
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQueryException
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val partitionsKey = "spark.sql.shuffle.partitions"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    def confs() = (spark.conf.get(partitionsKey), spark.conf.get(providerKey))
    val sessionPartitions = spark.conf.get(partitionsKey)
    // a value the driver's own replay partition count cannot mask
    spark.conf.set(partitionsKey, "7")
    try {
      val before = confs()
      assert(!before._2.contains("RocksDB"))
      var scratch = ""
      var held = ("", "")
      // 1. start() throws: nothing was fed, the scratch dir still goes
      val e1 = intercept[IllegalStateException](
        StreamQueries.replay(spark, StreamQueries.RocksDbState) { dir =>
          scratch = dir
          held = confs()
          throw new IllegalStateException("start refused")
        }()(_ => ()))
      assert(e1.getMessage == "start refused")
      assert(held._1 == "4" && held._2.contains("RocksDB"),
        s"confs while the stream plans: $held")
      assert(scratch.nonEmpty && !Files.exists(Paths.get(scratch)),
        s"a failed start leaked its scratch dir $scratch")
      assert(confs() == before)

      // 2. a fed micro-batch fails: the drain rethrows it after stop(),
      // read still sees the stopped query and the live scratch dir,
      // which holds the checkpoint the batch wrote — then both go
      val ms = MemoryStream[Long]
      var readSaw: Option[(Boolean, Boolean)] = None
      val e2 = intercept[StreamingQueryException](
        StreamQueries.replay(spark, StreamQueries.RocksDbState) { dir =>
          scratch = dir
          ms.toDS().map(v => if (v == 13L) sys.error("poisoned row") else v)
            .writeStream.format("memory").queryName("spec_replay_fail")
            .option("checkpointLocation", dir).outputMode("append").start()
        }(() => ms.addData(1L, 13L)) { q =>
          readSaw = Some((q.isActive, Files.isDirectory(Paths.get(scratch, "offsets"))))
        })
      assert(e2.getMessage.contains("poisoned row"))
      assert(readSaw.contains((false, true)), s"read saw (active, offsets dir): $readSaw")
      assert(!Files.exists(Paths.get(scratch)),
        s"a failed batch leaked its scratch dir $scratch")
      assert(confs() == before)
    } finally spark.conf.set(partitionsKey, sessionPartitions)
  }

  test("ReplayShared.storeCopy cleans up the partial destination on a mid-copy failure") {
    import scala.jdk.CollectionConverters._
    val base = {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isDirectory(shm)) shm
      else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    }
    def storeDirs() = java.nio.file.Files.list(base).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft_store_")).toSet
    val before = storeDirs()
    // a template that cannot be walked fails the copy immediately —
    // the failure path must delete the already-created dst, not leak
    // a tmpfs dir per failed invocation (the r18 ADVICE finding)
    intercept[Exception](graft.queries.StreamQueries.ReplayShared
      .storeCopy(base.resolve("graft_no_such_template").toString))
    assert(storeDirs() == before,
      "a failed storeCopy leaked its partial destination dir")
  }
}
