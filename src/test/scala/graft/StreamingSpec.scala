package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Ev

/** Drives the streaming builders through actual micro-batch execution
  * (MemoryStream source → memory sink), asserting streamed results match
  * the batch evaluation of the same builders.
  */
class StreamingSpec extends SparkSpec {

  // offset from epoch: a row with event-time == the initial watermark (0)
  // is filtered as late by the stateful operator — keep fixtures clear
  private def ts(min: Long): Timestamp = new Timestamp((min + 1440) * 60000L)

  val evs: Seq[Ev] = Seq(
    Ev(1, ts(0), "click", 1.0), Ev(1, ts(10), "click", 2.0),  // session A (u1)
    Ev(1, ts(90), "view", 3.0),                               // session B (u1, 80min gap)
    Ev(2, ts(5), "click", 5.0),                               // session C (u2)
    Ev(2, ts(300), "view", 7.0))                              // session D + watermark push

  test("streaming ingest fold: a batch-straddling near-dup drops; stream-folded survivors ≡ one-shot ingest (arrival-monotone ids)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SemDedupIngest
    import graft.operators.SemDedup
    val cents = graft.operators.Similarity.hashCentroids(4, 4)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // standing corpus: one doc on the x axis
    val standing = Seq((100L, v(1, 0, 0, 0))).toDF("vec_id", "embedding")
    val (cells, _) = SemDedup.probedIndexBuild(standing, "vec_id", "embedding", cents)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_stream").toString
    try {
      val store = new SemDedupIngest.Store(spark, tmp, "vec_id", "embedding")
      store.seed(standing, cells)
      // batch 1: 1 fresh on y; 2 a near-dup of 1 (batch-internal min-id)
      val batch1 = Seq((1L, v(0, 1, 0, 0)), (2L, v(0, 1, 0.05, 0)))
      // batch 2: 5 near-dups batch 1's SURVIVOR (the straddling trap),
      // 6 fresh on z, 7 near-dups the SEED corpus
      val batch2 = Seq((5L, v(0.05, 1, 0, 0)), (6L, v(0, 0, 1, 0)),
        (7L, v(1, 0, 0, 0.05)))
      val ms = MemoryStream[(Long, Array[Float])]
      val q = SemDedupIngest.dedupIngestStream(
        ms.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.9, cents, store).start()
      try {
        ms.addData(batch1: _*); q.processAllAvailable()
        ms.addData(batch2: _*); q.processAllAvailable()
      } finally q.stop()
      val streamed = store.ingested.select("vec_id").as[Long].collect().toSet
      // ≡ the one-shot ingest of the union: ids are arrival-monotone
      // (batch1 < batch2), so min-id-within-batch = first-arrival-wins
      val oneShot = SemDedup.dedupIngest(standing, cells,
          (batch1 ++ batch2).toDF("vec_id", "embedding"),
          "vec_id", "embedding", threshold = 0.9, cents)
        .select("vec_id").as[Long].collect().toSet
      assert(streamed == oneShot)
      assert(streamed == Set(1L, 6L),
        s"expected {1, 6}: 2 loses min-id in batch 1, 5 loses to batch 1's " +
          s"survivor via the FOLD, 7 loses to the seed corpus — got $streamed")
      // the trap made explicit: WITHOUT the fold (batch 2 deduped
      // against the seed only) the straddling near-dup 5 survives
      val noFold = SemDedup.dedupIngest(standing, cells,
          batch2.toDF("vec_id", "embedding"),
          "vec_id", "embedding", threshold = 0.9, cents)
        .select("vec_id").as[Long].collect().toSet
      assert(noFold.contains(5L),
        "fixture lost its teeth: 5 should survive a fold-less batch-2 ingest")
      // the standing store folded to seed + survivors
      assert(store.standingEmb.select("vec_id").as[Long].collect().toSet ==
        Set(100L, 1L, 6L))
      // epoch-retry idempotency (the foreachBatch exactly-once
      // discipline the Store's batch=<id> OVERWRITE encodes): replaying
      // a batch id must not double-append — standing row COUNT is
      // unchanged after a rewrite of the same epoch
      val before = store.standingEmb.count()
      val replay = Seq((6L, v(0, 0, 1, 0))).toDF("vec_id", "embedding")
      store.writeBatchEmb(1L, replay)
      store.writeBatchIndex(1L, SemDedup.probedIndex(
        replay, "vec_id", "embedding", cents))
      assert(store.standingEmb.count() == before)
      assert(store.standingEmb.filter(col("vec_id") === 6L).count() == 1L)
      graft.Caching.release()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("streaming ingest with a manifest fails LOUDLY at the first batch whose standing corpus outgrew the frozen quantizer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SemDedupIngest
    import graft.operators.SemDedup
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // quantizer frozen for a 2-vector corpus at target cell 2 (k = 1);
    // the 2x cellsFor band holds through n = 4 and breaks at n >= 5
    val cents = graft.operators.Similarity.hashCentroids(1, 4)
    val manifest = SemDedup.QuantizerManifest(builtN = 2, k = 1,
      probes = 2, targetCellSize = 2)
    val standing = Seq((1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0)))
      .toDF("vec_id", "embedding")
    val (cells, _) = SemDedup.probedIndexBuild(standing, "vec_id", "embedding",
      cents, targetCellSize = 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_stale").toString
    try {
      val store = new SemDedupIngest.Store(spark, tmp, "vec_id", "embedding")
      store.seed(standing, cells)
      val ms = MemoryStream[(Long, Array[Float])]
      val q = SemDedupIngest.dedupIngestStream(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.9, cents, store, manifest = Some(manifest)).start()
      try {
        // batch 1 (standing n = 2, cellsFor = 1 = k: fresh) — ingests
        ms.addData((10L, v(0, 0, 1, 0)), (11L, v(0, 0, 0, 1)))
        q.processAllAvailable()
        // batch 2 (n = 4, cellsFor = 2 = 2k: band edge, still fresh)
        ms.addData((12L, v(1, 1, 0, 0)), (13L, v(0, 1, 1, 0)))
        q.processAllAvailable()
        assert(store.standingEmb.count() == 6L)
        // batch 3: n = 6 → cellsFor = 3 > 2k — the gate must kill the
        // stream with the staleness message, not dedup on the stale
        // quantizer
        ms.addData((14L, v(1, 0, 1, 0)))
        val e = intercept[Exception] { q.processAllAvailable() }
        def messages(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
        assert(messages(e).exists(m => m.contains("STALE")
          && m.contains("probedIndexRebuild")), s"got: ${messages(e)}")
        // nothing from the refused batch landed in the store
        assert(store.standingEmb.filter(col("vec_id") === 14L).count() == 0L)
      } finally { q.stop(); graft.Caching.release() }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("store compaction mid-stream preserves the standing set bit-exactly and bounds the listing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SemDedupIngest
    import graft.operators.SemDedup
    val cents = graft.operators.Similarity.hashCentroids(4, 4)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val standing = Seq((100L, v(1, 1, 1, 1))).toDF("vec_id", "embedding")
    val (cells, _) = SemDedup.probedIndexBuild(standing, "vec_id", "embedding", cents)
    // five micro-batches: pairwise cosine ≤ 0.5 across the fresh rows
    // (axes + Hadamard rows), plus id 9 near-dupping batch-0's survivor
    // — dropped via the fold in BOTH runs, so the fixture keeps teeth
    val batches: Seq[Seq[(Long, Array[Float])]] = Seq(
      Seq((1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0))),
      Seq((3L, v(0, 0, 1, 0))),
      Seq((4L, v(0, 0, 0, 1)), (5L, v(1, -1, 1, -1))),
      Seq((6L, v(1, 1, -1, -1)), (9L, v(1, 0.02, 0, 0))),
      Seq((7L, v(1, -1, -1, 1))))
    def run(tmp: String, compactEvery: Int): SemDedupIngest.Store = {
      val store = new SemDedupIngest.Store(spark, tmp, "vec_id", "embedding")
      store.seed(standing, cells)
      val ms = MemoryStream[(Long, Array[Float])]
      val q = SemDedupIngest.dedupIngestStream(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.9, cents, store, compactEvery = compactEvery).start()
      try batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      store
    }
    val tmpC = java.nio.file.Files.createTempDirectory("graft_compact_c").toString
    val tmpN = java.nio.file.Files.createTempDirectory("graft_compact_n").toString
    try {
      val sC = run(tmpC, compactEvery = 2) // folds at (almost) every epoch
      val sN = run(tmpN, compactEvery = 0) // one dir per epoch forever
      def embSet(s: SemDedupIngest.Store) =
        s.standingEmb.as[(Long, Array[Float])].collect()
          .map { case (id, vec) => (id, vec.toSeq) }.toSet
      def ingSet(s: SemDedupIngest.Store) =
        s.ingested.as[(Long, Int)].collect().toSet
      assert(embSet(sC) == embSet(sN), "compaction changed the standing embeddings")
      assert(ingSet(sC) == ingSet(sN), "compaction changed the admitted set")
      assert(!ingSet(sC).map(_._1).contains(9L),
        "fixture lost its teeth: 9 near-dups batch-0's survivor and must drop")
      assert(sC.currentGen > 0, "compaction never fired")
      assert(sN.currentGen == 0)
      assert(sC.committedBatches.size < sN.committedBatches.size,
        s"listing not bounded: ${sC.committedBatches.size} vs ${sN.committedBatches.size}")
      // the folded store keeps ingesting: one more batch against it
      val ms2 = MemoryStream[(Long, Array[Float])]
      val q2 = SemDedupIngest.dedupIngestStream(
        ms2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.9, cents, sC, compactEvery = 2).start()
      // 20 near-dups a COMPACTED survivor (id 3); 21 is fresh
      try {
        ms2.addData((20L, v(0, 0.02, 1, 0)), (21L, v(-1, 1, 1, 1)))
        q2.processAllAvailable()
      } finally q2.stop()
      assert(sC.ingestedIds.as[Long].collect().toSet ==
        ingSet(sC).map(_._1) + 21L,
        "post-compaction ingest lost the folded standing state")
      graft.Caching.release()
    } finally Seq(tmpC, tmpN).foreach { t =>
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(t)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("a half-committed batch (index without embeddings) is invisible to every standing read") {
    import spark.implicits._
    import graft.streaming.SemDedupIngest
    import graft.operators.SemDedup
    val cents = graft.operators.Similarity.hashCentroids(4, 4)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val standing = Seq((100L, v(1, 0, 0, 0))).toDF("vec_id", "embedding")
    val (cells, _) = SemDedup.probedIndexBuild(standing, "vec_id", "embedding", cents)
    val tmp = java.nio.file.Files.createTempDirectory("graft_halfcommit").toString
    try {
      val store = new SemDedupIngest.Store(spark, tmp, "vec_id", "embedding")
      store.seed(standing, cells)
      val row = Seq((7L, v(0, 1, 0, 0))).toDF("vec_id", "embedding")
      // crash between the two per-epoch writes: index landed, emb did not
      store.writeBatchIndex(0L, SemDedup.probedIndex(row, "vec_id", "embedding", cents))
      assert(store.standingEmb.count() == 1L)
      assert(store.standingIndex.filter(col("vec_id") === 7L).count() == 0L,
        "vectorless index rows leaked into the standing index — later " +
          "near-dups of the phantom survivor would be admitted")
      assert(store.standingCount == 1L)
      assert(store.ingestedIds.count() == 0L)
      // the write completes (epoch redelivery) → batch becomes visible
      store.writeBatchEmb(0L, row)
      assert(store.standingEmb.count() == 2L)
      assert(store.standingIndex.filter(col("vec_id") === 7L).count() == 2L)
      assert(store.ingestedIds.as[Long].collect().toSet == Set(7L))
      // a later committed epoch makes batch 0 MID-history: rewriting it
      // (a fresh-checkpoint stream replaying epoch ids over a used
      // store) must die loudly, never clobber survivors
      val row2 = Seq((8L, v(0, 0, 1, 0))).toDF("vec_id", "embedding")
      store.writeBatchIndex(1L, SemDedup.probedIndex(row2, "vec_id", "embedding", cents))
      store.writeBatchEmb(1L, row2)
      val e = intercept[IllegalStateException] { store.writeBatchIndex(0L, cells) }
      assert(e.getMessage.contains("committed history"))
      assert(store.ingestedIds.as[Long].collect().toSet == Set(7L, 8L))
      graft.Caching.release()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("takedown on the streaming store: remove is immediate and decremental; vacuum purges physically and the stream continues") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SemDedupIngest
    import graft.operators.SemDedup
    val cents = graft.operators.Similarity.hashCentroids(4, 4)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val standing = Seq((100L, v(1, 0, 0, 0)), (101L, v(0, 1, 0, 0)))
      .toDF("vec_id", "embedding")
    val (cells, _) = SemDedup.probedIndexBuild(standing, "vec_id", "embedding", cents)
    val tmp = java.nio.file.Files.createTempDirectory("graft_takedown").toString
    try {
      val store = new SemDedupIngest.Store(spark, tmp, "vec_id", "embedding")
      store.seed(standing, cells)
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id").as[Long].collect().toSet
      // ONE stream across the takedown (separate streams would restart
      // epoch ids at 0 — the documented batch-0 retry corner)
      val ms = MemoryStream[(Long, Array[Float])]
      val q = SemDedupIngest.dedupIngestStream(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.9, cents, store).start()
      try {
        // epoch 0: two fresh docs admitted
        ms.addData((1L, v(0, 0, 1, 0)), (2L, v(0, 0, 0, 1)))
        q.processAllAvailable()
        assert(ids(store.ingestedIds) == Set(1L, 2L))
        // TAKEDOWN: one seed doc (101) and one stream survivor (1) —
        // immediately invisible to every standing read
        store.remove(Seq(1L, 101L).toDF("vec_id"))
        assert(ids(store.standingEmb) == Set(100L, 2L))
        assert(ids(store.ingestedIds) == Set(2L))
        assert(store.standingCount == 2L)
        // DECREMENTAL teeth: near-dups of the removed docs are now
        // admitted (their edges died with them); near-dups of the
        // REMAINING corpus still drop. 1's re-arrival under its own id
        // is admitted by the dedup but stays tombstone-invisible
        // (takedown is by id — re-ingest needs a new id).
        ms.addData((5L, v(0, 0, 1, 0.02)),  // ~removed survivor 1 → admitted
          (6L, v(1, 0.02, 0, 0)),           // ~remaining seed 100 → drops
          (7L, v(0, 1, 0, 0.02)))           // ~removed seed 101 → admitted
        q.processAllAvailable()
        ms.addData((1L, v(1, 1, 1, 1)))     // re-arrival of a removed id
        q.processAllAvailable()
      } finally q.stop()
      assert(ids(store.ingestedIds) == Set(2L, 5L, 7L))
      assert(ids(store.standingEmb) == Set(100L, 2L, 5L, 7L))
      // VACUUM: physical purge — seed rewritten minus tombstones (next
      // seed generation), gen dirs folded minus tombstones, tombstone
      // files retired; the logical view is unchanged
      assert(store.vacuum(upToExclusive = 3))
      assert(!store.vacuum(3), "second vacuum must be a no-op")
      assert(ids(store.standingEmb) == Set(100L, 2L, 5L, 7L))
      assert(ids(store.ingestedIds) == Set(2L, 5L, 7L))
      assert(store.standingCount == 4L) // fast path again (no tombstones)
      // raw bytes: the removed ids are gone from the seed tree and
      // from every gen dir (incl. the re-arrival's row), and no
      // tombstone files remain
      val seedRaw = spark.read.parquet(s"$tmp/seed${store.currentSeedGen}/emb")
      assert(ids(seedRaw) == Set(100L))
      val genEmb = spark.read.parquet(s"$tmp/g${store.currentGen}/emb")
      assert(ids(genEmb.drop("batch")) == Set(2L, 5L, 7L))
      import scala.jdk.CollectionConverters._
      val tombFiles = {
        val p = java.nio.file.Paths.get(tmp, "tombstones")
        if (!java.nio.file.Files.exists(p)) Seq.empty
        else java.nio.file.Files.walk(p).iterator().asScala
          .filter(f => f.toString.endsWith(".parquet")).toSeq
      }
      assert(tombFiles.isEmpty, s"tombstone files survived vacuum: $tombFiles")
      // the vacuumed store keeps ingesting (fresh checkpoint, epoch 0
      // lands in a hole — the folded dirs freed the id space)
      val ms2 = MemoryStream[(Long, Array[Float])]
      val q2 = SemDedupIngest.dedupIngestStream(
        ms2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.9, cents, store).start()
      try { ms2.addData((8L, v(1, -1, 1, -1))); q2.processAllAvailable() }
      finally q2.stop()
      assert(ids(store.ingestedIds) == Set(2L, 5L, 7L, 8L))
      graft.Caching.release()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("in-stream rebuild recovery, semantic tier: stale kill → probedIndexRebuild → re-seed → restart ≡ one-shot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SemDedupIngest
    import graft.operators.SemDedup
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // the full 3am path the scaladocs document (r16 verdict task 3):
    // a long-running ingest outgrows its frozen quantizer mid-stream,
    // the per-batch gate kills it loudly, the operator rebuilds at the
    // current size, re-seeds a FRESH store from the standing snapshot
    // (gen index rows are quantizer-relative — they die with it, which
    // is why recovery re-seeds instead of reusing the old tree), and
    // the restarted stream (fresh checkpoint, epoch 0 on the fresh
    // store) resumes the fold: the admitted UNION across the kill must
    // equal the one-shot ingest of every batch under the new quantizer.
    val cents = graft.operators.Similarity.hashCentroids(1, 4)
    val manifest = SemDedup.QuantizerManifest(builtN = 2, k = 1,
      probes = 2, targetCellSize = 2)
    val standing = Seq((1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0)))
      .toDF("vec_id", "embedding")
    val (cells, _) = SemDedup.probedIndexBuild(standing, "vec_id", "embedding",
      cents, targetCellSize = 2)
    val batchA = Seq((10L, v(0, 0, 1, 0)), (11L, v(0, 0, 0, 1)))
    val batchB = Seq((12L, v(1, 1, 1, 1)), (13L, v(1, -1, 1, -1)))
    // C re-delivers after the kill: 15 near-dups PRE-rebuild survivor 10
    // (the rebuilt standing state must still reject it), 14 fresh
    val batchC = Seq((14L, v(1, 1, -1, -1)), (15L, v(0, 0, 1, 0.05)))
    // D: 16 near-dups POST-restart survivor 14 (the fold still works
    // across the recovery), 17 fresh
    val batchD = Seq((16L, v(1, 1, -1.05, -1)), (17L, v(1, -1, -1, 1)))
    val tmp1 = java.nio.file.Files.createTempDirectory("graft_rebuild_a").toString
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_rebuild_b").toString
    try {
      val store = new SemDedupIngest.Store(spark, tmp1, "vec_id", "embedding")
      store.seed(standing, cells)
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id").as[Long].collect().toSet
      val ms = MemoryStream[(Long, Array[Float])]
      val q = SemDedupIngest.dedupIngestStream(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.9, cents, store, manifest = Some(manifest)).start()
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      val e = intercept[Exception] {
        try {
          ms.addData(batchA: _*); q.processAllAvailable() // n 2→4, fresh
          ms.addData(batchB: _*); q.processAllAvailable() // n 4→6, band edge
          ms.addData(batchC: _*); q.processAllAvailable() // cellsFor(6)=3 > 2k
        } finally q.stop()
      }
      assert(messages(e).exists(m => m.contains("STALE")
        && m.contains("probedIndexRebuild")), s"got: ${messages(e)}")
      assert(ids(store.ingestedIds) == Set(10L, 11L, 12L, 13L),
        "the refused batch must not have landed")
      // REBUILD at the current size (the loud message's named remedy)
      val snapshot = store.standingEmb
      val n1 = store.standingCount
      val (idx2, cents2, m2) = SemDedup.probedIndexRebuild(
        snapshot, "vec_id", "embedding", manifest, n1,
        train = k => graft.operators.Similarity.hashCentroids(k, 4))
      assert(!SemDedup.quantizerStale(m2, n1))
      // RE-SEED a fresh store from the standing snapshot + rebuilt index
      val store2 = new SemDedupIngest.Store(spark, tmp2, "vec_id", "embedding")
      store2.seed(snapshot, idx2)
      // RESTART (fresh checkpoint; epoch ids restart at 0 on a fresh
      // store, so guardOverwrite has nothing to refuse) and RESUME with
      // the refused batch first
      val ms2 = MemoryStream[(Long, Array[Float])]
      val q2 = SemDedupIngest.dedupIngestStream(
        ms2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.9, cents2, store2, manifest = Some(m2)).start()
      try {
        ms2.addData(batchC: _*); q2.processAllAvailable()
        ms2.addData(batchD: _*); q2.processAllAvailable()
      } finally q2.stop()
      val resumed = ids(store2.ingestedIds)
      assert(resumed == Set(14L, 17L),
        s"15 near-dups pre-rebuild survivor 10, 16 near-dups post-restart " +
          s"survivor 14 via the fold — got $resumed")
      // the union across the recovery ≡ the one-shot ingest of every
      // batch under the rebuilt quantizer
      val union = ids(store.ingestedIds) ++ resumed
      val cells2 = SemDedup.probedIndex(standing, "vec_id", "embedding", cents2)
      val oneShot = SemDedup.dedupIngest(standing, cells2,
          (batchA ++ batchB ++ batchC ++ batchD).toDF("vec_id", "embedding"),
          "vec_id", "embedding", threshold = 0.9, cents2)
        .select("vec_id").as[Long].collect().toSet
      assert(union == oneShot, s"union $union != one-shot $oneShot")
      graft.Caching.release()
    } finally Seq(tmp1, tmp2).foreach { t =>
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(t)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("in-stream rebuild recovery, SRP tier: stale kill → srpIndexRebuild → re-seed → restart ≡ one-shot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SemDedupIngest
    import graft.operators.Dedup
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // same recovery walk on the SRP tier: targetBucketSize = 1 makes
    // the log2-quantized sizing rule flip at n = 4 (srpPlanesFor(3,1)=1,
    // srpPlanesFor(4,1)=2), so real growth — not a fabricated manifest —
    // drives the kill
    val standing = Seq((100L, v(1, 0, 0, 0))).toDF("vec_id", "embedding")
    val (codes, m) = Dedup.srpIndexBuild(standing, "vec_id", "embedding",
      dim = 4, targetBucketSize = 1, knownCount = Some(1L))
    assert(m.planes == 1)
    val batchA = Seq((1L, v(0, 1, 0, 0)), (2L, v(0, 0, 1, 0)))
    val batchB = Seq((3L, v(0, 0, 0, 1)))
    val batchC = Seq((4L, v(0, 1, 0.05, 0)), (5L, v(1, 1, 1, 1)))
    val batchD = Seq((6L, v(1, 1, 1, 1.05)), (7L, v(1, -1, 1, -1)))
    val tmp1 = java.nio.file.Files.createTempDirectory("graft_srp_reb_a").toString
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_srp_reb_b").toString
    try {
      val store = new SemDedupIngest.Store(spark, tmp1, "vec_id", "embedding",
        indexCols = Seq("table", "bucket"))
      store.seed(standing, codes)
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id").as[Long].collect().toSet
      val ms = MemoryStream[(Long, Array[Float])]
      val q = SemDedupIngest.srpIngestStream(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        dim = 4, threshold = 0.9, m, store).start()
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      val e = intercept[Exception] {
        try {
          ms.addData(batchA: _*); q.processAllAvailable() // n 1→3
          ms.addData(batchB: _*); q.processAllAvailable() // n 3→4
          ms.addData(batchC: _*); q.processAllAvailable() // planesFor(4)=2≠1
        } finally q.stop()
      }
      assert(messages(e).exists(x => x.contains("STALE")
        && x.contains("srpIndexRebuild")), s"got: ${messages(e)}")
      assert(ids(store.ingestedIds) == Set(1L, 2L, 3L))
      val snapshot = store.standingEmb
      val n1 = store.standingCount
      val (codes2, m2) = Dedup.srpIndexRebuild(snapshot, "vec_id", "embedding",
        dim = 4, m, n1)
      assert(m2.planes == 2 && !Dedup.srpIndexStale(m2, n1))
      val store2 = new SemDedupIngest.Store(spark, tmp2, "vec_id", "embedding",
        indexCols = Seq("table", "bucket"))
      store2.seed(snapshot, codes2)
      val ms2 = MemoryStream[(Long, Array[Float])]
      val q2 = SemDedupIngest.srpIngestStream(
        ms2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        dim = 4, threshold = 0.9, m2, store2).start()
      try {
        ms2.addData(batchC: _*); q2.processAllAvailable()
        ms2.addData(batchD: _*); q2.processAllAvailable()
      } finally q2.stop()
      val resumed = ids(store2.ingestedIds)
      assert(resumed == Set(5L, 7L),
        s"4 near-dups pre-rebuild survivor 1, 6 near-dups post-restart " +
          s"survivor 5 via the fold — got $resumed")
      val union = ids(store.ingestedIds) ++ resumed
      val codesAll2 = Dedup.srpIndex(standing, "vec_id", "embedding",
        dim = 4, planes = m2.planes, tables = m2.tables)
      val oneShot = Dedup.srpIngest(standing, codesAll2,
          (batchA ++ batchB ++ batchC ++ batchD).toDF("vec_id", "embedding"),
          "vec_id", "embedding", dim = 4, threshold = 0.9, planes = m2.planes)
        .as[Long].collect().toSet
      assert(union == oneShot, s"union $union != one-shot $oneShot")
      graft.Caching.release()
    } finally Seq(tmp1, tmp2).foreach { t =>
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(t)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("compact/vacuum carry committed batches at/past the fold bound; the tombstone retire guard has teeth") {
    import spark.implicits._
    import graft.streaming.SemDedupIngest
    import graft.operators.SemDedup
    val cents = graft.operators.Similarity.hashCentroids(4, 4)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val standing = Seq((100L, v(1, 0, 0, 0))).toDF("vec_id", "embedding")
    val (cells, _) = SemDedup.probedIndexBuild(standing, "vec_id", "embedding", cents)
    val tmp = java.nio.file.Files.createTempDirectory("graft_carry").toString
    try {
      val store = new SemDedupIngest.Store(spark, tmp, "vec_id", "embedding")
      store.seed(standing, cells)
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id").as[Long].collect().toSet
      // four fully-committed epochs, written as the fold writes them
      val rows = Seq(1L -> v(0, 1, 0, 0), 2L -> v(0, 0, 1, 0),
        3L -> v(0, 0, 0, 1), 4L -> v(1, -1, 1, -1))
      rows.zipWithIndex.foreach { case ((id, vec), b) =>
        val df = Seq((id, vec)).toDF("vec_id", "embedding")
        store.writeBatchIndex(b.toLong, SemDedup.probedIndex(df, "vec_id", "embedding", cents))
        store.writeBatchEmb(b.toLong, df)
      }
      // compact with batch 3 AT the bound (a redelivered epoch's dir):
      // it must be CARRIED into the next generation, not destroyed
      // with the retired g0 tree (the r16 ADVICE data-loss finding —
      // e.g. a plain off-by-one vacuum(maxCommitted))
      assert(store.compact(upToExclusive = 3, minBatches = 2))
      assert(store.currentGen == 1L)
      assert(ids(store.standingEmb) == Set(100L, 1L, 2L, 3L, 4L),
        "checkpoint-committed survivors at/past the fold bound were destroyed")
      assert(store.committedBatches.contains(3L),
        "the carried batch must keep its epoch id (the retry contract)")
      // retire-guard teeth: take down the CARRIED batch's row, vacuum
      // below it — its dir keeps the physical row, so the tombstone
      // must survive the vacuum (retiring it would resurrect id 4)
      store.remove(Seq(4L).toDF("vec_id"))
      assert(store.vacuum(upToExclusive = 3))
      assert(ids(store.standingEmb) == Set(100L, 1L, 2L, 3L))
      val carriedRaw = spark.read
        .parquet(s"$tmp/g${store.currentGen}/emb/batch=3")
      assert(ids(carriedRaw) == Set(4L),
        "the carried dir must keep its physical rows across a vacuum below it")
      import scala.jdk.CollectionConverters._
      def tombFiles = {
        val p = java.nio.file.Paths.get(tmp, "tombstones")
        if (!java.nio.file.Files.exists(p)) Seq.empty
        else java.nio.file.Files.walk(p).iterator().asScala
          .filter(f => f.toString.endsWith(".parquet")).toSeq
      }
      assert(tombFiles.nonEmpty,
        "tombstone retired while a committed dir past the bound kept its rows")
      // a vacuum past every committed dir finishes the purge
      assert(store.vacuum(upToExclusive = 4))
      assert(tombFiles.isEmpty, "full-coverage vacuum must retire the tombstones")
      assert(ids(store.standingEmb) == Set(100L, 1L, 2L, 3L))
      assert(ids(spark.read.parquet(s"$tmp/g${store.currentGen}/emb").drop("batch"))
        == Set(1L, 2L, 3L), "the purge must drop the tombstoned row physically")
      graft.Caching.release()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("fold outputs refuse epoch-id collisions; a crashed fold's leftovers never become visible") {
    import spark.implicits._
    import graft.streaming.SemDedupIngest
    import graft.operators.SemDedup
    val cents = graft.operators.Similarity.hashCentroids(4, 4)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val standing = Seq((100L, v(1, 0, 0, 0))).toDF("vec_id", "embedding")
    val (cells, _) = SemDedup.probedIndexBuild(standing, "vec_id", "embedding", cents)
    val tmp = java.nio.file.Files.createTempDirectory("graft_foldid").toString
    try {
      val store = new SemDedupIngest.Store(spark, tmp, "vec_id", "embedding")
      store.seed(standing, cells)
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id").as[Long].collect().toSet
      val rows = Seq(1L -> v(0, 1, 0, 0), 2L -> v(0, 0, 1, 0), 3L -> v(0, 0, 0, 1))
      rows.zipWithIndex.foreach { case ((id, vec), b) =>
        val df = Seq((id, vec)).toDF("vec_id", "embedding")
        store.writeBatchIndex(b.toLong, SemDedup.probedIndex(df, "vec_id", "embedding", cents))
        store.writeBatchEmb(b.toLong, df)
      }
      // a CRASHED earlier fold left committed-looking dirs in the
      // unpublished g1 tree — after a later fold publishes g1, they
      // must NOT surface as committed batches (they would duplicate
      // every row they hold)
      val ghost = Seq((999L, v(1, 1, 1, 1))).toDF("vec_id", "embedding")
      ghost.write.parquet(s"$tmp/g1/emb/batch=99")
      ghost.select(col("vec_id"), lit(0).as("cell"), lit(1).as("rank"))
        .write.parquet(s"$tmp/g1/index/batch=99")
      assert(store.compact(upToExclusive = 3, minBatches = 2))
      assert(store.currentGen == 1L)
      assert(store.committedBatches == Seq(2L),
        s"crashed-fold leftovers resurfaced: ${store.committedBatches}")
      assert(ids(store.standingEmb) == Set(100L, 1L, 2L, 3L))
      // the folded dir's id is NOT a skippable redelivery: a live
      // stream's epoch never collides with a fold target, so a write
      // attempt there is a NEW stream reusing epoch ids — loud refusal,
      // never a silent batch drop
      val e = intercept[IllegalStateException] { store.alreadyCommitted(2L) }
      assert(e.getMessage.contains("fold output"), e.getMessage)
      // a RAW committed max is still the redelivery-skip case
      val df3 = Seq((4L, v(1, -1, 1, -1))).toDF("vec_id", "embedding")
      store.writeBatchIndex(3L, SemDedup.probedIndex(df3, "vec_id", "embedding", cents))
      store.writeBatchEmb(3L, df3)
      assert(store.alreadyCommitted(3L))
      graft.Caching.release()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("redelivery of a fully-committed epoch is skipped, not re-run into an overwrite-while-reading wedge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SemDedupIngest
    import graft.operators.SemDedup
    val cents = graft.operators.Similarity.hashCentroids(4, 4)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val standing = Seq((100L, v(1, 0, 0, 0))).toDF("vec_id", "embedding")
    val (cells, _) = SemDedup.probedIndexBuild(standing, "vec_id", "embedding", cents)
    val tmp = java.nio.file.Files.createTempDirectory("graft_redeliver").toString
    try {
      val store = new SemDedupIngest.Store(spark, tmp, "vec_id", "embedding")
      store.seed(standing, cells)
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id").as[Long].collect().toSet
      // epoch 0's output fully committed, but the checkpoint offset was
      // not (crash between the two) — the store-level shape of a
      // redelivery, built via the documented undetectable batch-0
      // corner: a fresh checkpoint's epoch 0 IS the retry
      val b0 = Seq((1L, v(0, 1, 0, 0))).toDF("vec_id", "embedding")
      store.writeBatchIndex(0L, SemDedup.probedIndex(b0, "vec_id", "embedding", cents))
      store.writeBatchEmb(0L, b0)
      val ms = MemoryStream[(Long, Array[Float])]
      val q = SemDedupIngest.dedupIngestStream(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.9, cents, store).start()
      try {
        // the redelivered epoch: without the skip, its survivors plan
        // reads g0/index/batch=0 and then overwrites that exact path —
        // Spark refuses, and every restart wedges on the same epoch
        ms.addData((1L, v(0, 1, 0, 0)))
        q.processAllAvailable()
        assert(ids(store.ingestedIds) == Set(1L))
        // the stream proceeds normally past the skipped epoch
        ms.addData((2L, v(0, 0, 1, 0)), (3L, v(0, 1, 0.02, 0)))
        q.processAllAvailable()
      } finally q.stop()
      assert(ids(store.ingestedIds) == Set(1L, 2L),
        "post-skip epochs must dedup against the committed epoch's survivors")
      graft.Caching.release()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("store single-writer discipline: a concurrent mutation dies loudly; same-thread nesting stays free") {
    import spark.implicits._
    import graft.streaming.SemDedupIngest
    import graft.operators.SemDedup
    val cents = graft.operators.Similarity.hashCentroids(4, 4)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val standing = Seq((100L, v(1, 0, 0, 0))).toDF("vec_id", "embedding")
    val (cells, _) = SemDedup.probedIndexBuild(standing, "vec_id", "embedding", cents)
    val tmp = java.nio.file.Files.createTempDirectory("graft_writer").toString
    try {
      val store = new SemDedupIngest.Store(spark, tmp, "vec_id", "embedding")
      store.seed(standing, cells)
      // a remove() issued from an ops thread while a mutation is in
      // flight must die loudly, not race the snapshot
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      store.withWriterLock {
        val t = new Thread(() => {
          try store.remove(Seq(100L).toDF("vec_id"))
          catch { case e: Throwable => err.set(e) }
        })
        t.start(); t.join()
      }
      assert(err.get() != null, "concurrent remove() was allowed to race")
      assert(err.get().isInstanceOf[IllegalStateException]
        && err.get().getMessage.contains("single-writer"), s"got: ${err.get()}")
      assert(store.standingEmb.count() == 1L, "the refused remove landed")
      // the fold thread's own nested mutations stay free (reentrant):
      // remove + vacuum from the holding thread work as before
      store.withWriterLock {
        store.remove(Seq(100L).toDF("vec_id"))
        assert(store.vacuum(upToExclusive = 0))
      }
      assert(store.standingEmb.count() == 0L)
      graft.Caching.release()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("store cross-process writer guard: a second writer instance is refused while held; a dead-owner lock is broken") {
    import spark.implicits._
    import graft.streaming.SemDedupIngest
    import graft.operators.SemDedup
    val cents = graft.operators.Similarity.hashCentroids(4, 4)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val standing = Seq((100L, v(1, 0, 0, 0))).toDF("vec_id", "embedding")
    val (cells, _) = SemDedup.probedIndexBuild(standing, "vec_id", "embedding", cents)
    val tmp = java.nio.file.Files.createTempDirectory("graft_xproc").toString
    try {
      val a = new SemDedupIngest.Store(spark, tmp, "vec_id", "embedding")
      a.seed(standing, cells)
      // the lock file is held only for the mutation's duration —
      // nothing outstanding after seed() returns
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(tmp, "_writer_lock")))
      // a SECOND writer instance on the same dir (the in-JVM stand-in
      // for a second driver JVM: its own ReentrantLock, its own token,
      // same live pid) must die loudly while A's epoch is in flight
      val b = new SemDedupIngest.Store(spark, tmp, "vec_id", "embedding")
      a.withWriterLock {
        val err = intercept[IllegalStateException](
          b.remove(Seq(100L).toDF("vec_id")))
        assert(err.getMessage.contains("single-writer")
          && err.getMessage.contains("second writer instance"), err.getMessage)
      }
      assert(a.standingEmb.count() == 1L, "the refused remove landed")
      // sequential handoff is legal: after A releases, B mutates freely
      b.remove(Seq(100L).toDF("vec_id"))
      assert(b.standingEmb.count() == 0L)
      // a lock left by a CRASHED owner — dead pid on this host, mtime
      // fresh — is stale by liveness and must be broken + taken over,
      // not wedge the store forever
      val host = java.net.InetAddress.getLocalHost.getHostName
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "_writer_lock"),
        s"999999999@$host#dead".getBytes("UTF-8"))
      assert(b.vacuum(upToExclusive = 1))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(tmp, "_writer_lock")),
        "the broken stale lock must be released after the takeover mutation")
      // a RECYCLED pid (alive, but an unrelated process) must not wedge
      // the store forever: same-host staleness falls back to heartbeat
      // age — an ALIVE-pid token whose mtime went silent past
      // StaleLockMs is broken too
      val lockP = java.nio.file.Paths.get(tmp, "_writer_lock")
      java.nio.file.Files.write(lockP,
        s"${ProcessHandle.current().pid()}@$host#recycled".getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(lockP,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - b.StaleLockMs - 60000L))
      b.remove(Seq(999L).toDF("vec_id")) // takes over the silent lock
      assert(!java.nio.file.Files.exists(lockP))
      // the heartbeat keeps a HELD lock's mtime alive for the whole
      // mutation, even with no intervening store calls — so a live
      // long mutation can never be mistaken for the silent case above
      b.heartbeatMs = 50L
      b.withWriterLock {
        val t0 = java.nio.file.Files.getLastModifiedTime(lockP).toMillis
        Thread.sleep(400)
        val t1 = java.nio.file.Files.getLastModifiedTime(lockP).toMillis
        assert(t1 > t0, s"heartbeat did not touch the held lock ($t0 → $t1)")
      }
      assert(!java.nio.file.Files.exists(lockP))
      graft.Caching.release()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("hier-tier streaming fold: batch-straddling near-dup drops; stream ≡ one-shot dedupIngestHier (full coarse fan-out ≡ flat)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SemDedupIngest
    import graft.operators.SemDedup
    val cents = graft.operators.Similarity.hashCentroids(4, 4)
    val g = math.ceil(math.sqrt(4.0)).toInt // full coarse fan-out
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val standing = Seq((100L, v(1, 0, 0, 0))).toDF("vec_id", "embedding")
    val idxHier = SemDedup.probedIndexHier(standing, "vec_id", "embedding",
      cents, coarseProbes = g)
    val batch1 = Seq((1L, v(0, 1, 0, 0)), (2L, v(0, 1, 0.05, 0)))
    val batch2 = Seq((5L, v(0.05, 1, 0, 0)), (6L, v(0, 0, 1, 0)),
      (7L, v(1, 0, 0, 0.05)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_hier").toString
    try {
      val store = new SemDedupIngest.Store(spark, tmp, "vec_id", "embedding")
      store.seed(standing, idxHier)
      val ms = MemoryStream[(Long, Array[Float])]
      val q = SemDedupIngest.dedupIngestStream(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.9, cents, store,
        coarseProbes = g, forceHier = true).start()
      try {
        ms.addData(batch1: _*); q.processAllAvailable()
        ms.addData(batch2: _*); q.processAllAvailable()
      } finally q.stop()
      val streamed = store.ingested.as[(Long, Int)].collect().toSet
      val oneShot = SemDedup.dedupIngestHier(standing, idxHier,
          (batch1 ++ batch2).toDF("vec_id", "embedding"),
          "vec_id", "embedding", threshold = 0.9, cents, coarseProbes = g)
        .as[(Long, Int)].collect().toSet
      assert(streamed == oneShot)
      assert(streamed.map(_._1) == Set(1L, 6L),
        s"expected {1, 6}: 2 loses min-id in batch 1, 5 loses to batch 1's " +
          s"survivor via the FOLD, 7 loses to the seed corpus — got $streamed")
      // tier equivalence at full fan-out: the flat fold admits the same
      val flat = SemDedup.dedupIngest(standing,
          SemDedup.probedIndex(standing, "vec_id", "embedding", cents),
          (batch1 ++ batch2).toDF("vec_id", "embedding"),
          "vec_id", "embedding", threshold = 0.9, cents)
        .as[(Long, Int)].collect().toSet
      assert(streamed == flat)
      graft.Caching.release()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("SRP-tier streaming fold: batch-straddling near-dup drops; stream ≡ one-shot srpIngest; stale manifest kills batch 1") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SemDedupIngest
    import graft.operators.Dedup
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val standing = Seq((100L, v(1, 0, 0, 0))).toDF("vec_id", "embedding")
    // planes per the sizing rule at this corpus (1 for any tiny n), so
    // the per-batch staleness gate stays fresh across the whole stream
    val m = Dedup.SrpManifest(1L, graft.operators.Similarity.srpPlanesFor(1L), 16, 128)
    val codes = Dedup.srpIndex(standing, "vec_id", "embedding", dim = 4,
      planes = m.planes, tables = m.tables)
    val batch1 = Seq((1L, v(0, 1, 0, 0)), (2L, v(0, 1, 0.05, 0)))
    val batch2 = Seq((5L, v(0.05, 1, 0, 0)), (6L, v(0, 0, 1, 0)),
      (7L, v(1, 0, 0, 0.05)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_srp").toString
    try {
      val store = new SemDedupIngest.Store(spark, tmp, "vec_id", "embedding",
        indexCols = Seq("table", "bucket"))
      store.seed(standing, codes)
      val ms = MemoryStream[(Long, Array[Float])]
      val q = SemDedupIngest.srpIngestStream(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        dim = 4, threshold = 0.9, m, store).start()
      try {
        ms.addData(batch1: _*); q.processAllAvailable()
        ms.addData(batch2: _*); q.processAllAvailable()
      } finally q.stop()
      val streamed = store.ingestedIds.as[Long].collect().toSet
      val oneShot = Dedup.srpIngest(standing, codes,
          (batch1 ++ batch2).toDF("vec_id", "embedding"),
          "vec_id", "embedding", dim = 4, threshold = 0.9, planes = m.planes)
        .as[Long].collect().toSet
      assert(streamed == oneShot)
      assert(streamed == Set(1L, 6L),
        s"expected {1, 6}: 2 loses min-id in batch 1, 5 loses to batch 1's " +
          s"survivor via the FOLD, 7 loses to the seed corpus — got $streamed")
      // survivors appended their FULL code rows (tables × |survivors|,
      // beside the seed's tables × 1)
      assert(store.standingIndex.filter(col("vec_id").isin(1L, 6L)).count() ==
        m.tables.toLong * 2)
      assert(store.standingIndex.count() == m.tables.toLong * 3)
      // a NEW stream (fresh checkpoint, epoch ids restarting at 0) over
      // this used store must first compact() past the committed epoch
      // ids — guardOverwrite's documented path; without it epoch 0 dies
      // with the epoch-reuse refusal before the gate under test runs
      assert(store.compact(upToExclusive = 2, minBatches = 2))
      // the staleness gate is live per micro-batch: a stream served from
      // a manifest the corpus has outgrown dies loudly at its FIRST batch
      val stale = m.copy(planes = m.planes + 3)
      val ms2 = MemoryStream[(Long, Array[Float])]
      val q2 = SemDedupIngest.srpIngestStream(
        ms2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        dim = 4, threshold = 0.9, stale, store).start()
      val e = intercept[Exception] {
        ms2.addData((30L, v(0, 0, 0, 1))); q2.processAllAvailable()
      }
      q2.stop()
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(m => m.contains("STALE")
        && m.contains("srpIndexRebuild")), s"got: ${messages(e)}")
      assert(store.ingestedIds.filter(col("vec_id") === 30L).count() == 0L,
        "the refused batch landed in the store")
      graft.Caching.release()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("streaming hourly counts match batch on closed buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamingOps.hourlyEventCounts(ms.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("hourly").outputMode("append").start()
    ms.addData(evs: _*)
    q.processAllAvailable()
    // push the watermark far past every bucket so all buckets close
    ms.addData(Ev(9, ts(10000), "noop", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hourly")
      .filter(col("event_type") =!= "noop")
      .select("bucket_start", "event_type", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    val batch = StreamingOps.hourlyEventCounts(evs.toDF(), watermark = "1 hour")
      .select("bucket_start", "event_type", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("flatMapGroupsWithState sessionization emits closed sessions, handles stragglers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamingOps.sessionizeWithState(ms.toDS(), gapMinutes = 30, watermark = "2000 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    ms.addData(evs: _*)
    q.processAllAvailable()
    // out-of-order arrivals in a later batch:
    ms.addData(
      Ev(1, ts(85), "view", 10.0),   // 5 min BEFORE open session B(90) → merges, start extends
      Ev(2, ts(-100), "view", 9.0))  // > gap before u2's open sessions → opens its own session
    q.processAllAvailable()
    // a second straggler within gap of the first: the two must MERGE
    // (round-1 bug: each straggler emitted standalone immediately)
    ms.addData(Ev(2, ts(-80), "view", 11.0))
    q.processAllAvailable()
    ms.addData(Ev(9, ts(20000), "noop", 0.0)) // advance watermark → time out all
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sessions")
      .filter(col("user_id") < 9)
      .select("user_id", "n_events", "total_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(
      (1L, 2L, 3.0),   // session A (u1: t0 + t10)
      (1L, 2L, 13.0),  // session B (u1: t85 merged into t90)
      (2L, 1L, 5.0),   // session C (u2: t5)
      (2L, 1L, 7.0),   // session D (u2: t300)
      (2L, 2L, 20.0))) // straggler pair merged (u2: t-100 + t-80)
  }

  test("sessionizeWithState: sub-millisecond timestamps never seal a session early") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // event A carries a 500 µs sub-ms part; the former ms-floored seal
    // test closed A's session the moment the watermark reached
    // floor(A)+gap — 500 µs BEFORE the last admissible instant — so an
    // exactly-gap-apart follow-up event (still not late!) re-opened a
    // duplicate session. The fix seals in µs; this fixture pins it.
    def subMs(min: Long, micro: Int): Timestamp = {
      val t = ts(min); t.setNanos(micro * 1000); t
    }
    val ms = MemoryStream[Ev]
    val q = StreamingOps.sessionizeWithState(ms.toDS(), gapMinutes = 30, watermark = "2000 minutes")
      .writeStream.format("memory").queryName("subms").outputMode("append").start()
    ms.addData(Ev(1, subMs(0, 500), "a", 1.0))
    q.processAllAvailable()
    // watermark lands EXACTLY on floor(A)+gap (sentinel at +2030 with a
    // 2000-minute delay): old code seals here, new code must not
    ms.addData(Ev(9, ts(2030), "noop", 0.0))
    q.processAllAvailable()
    // B at exactly A + gap (same 500 µs sub-ms part): within the
    // inclusive gap, and its event time is not below the watermark
    ms.addData(Ev(1, subMs(30, 500), "b", 2.0))
    q.processAllAvailable()
    ms.addData(Ev(9, ts(20000), "noop", 0.0)) // flush everything
    q.processAllAvailable()
    q.stop()
    val got = spark.table("subms").filter(col("user_id") === 1)
      .select("n_events", "total_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((2L, 3.0)), s"expected ONE merged session, got $got")
  }

  test("sessionizeWithState: a bridging event collapses two open sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamingOps.sessionizeWithState(ms.toDS(), gapMinutes = 30, watermark = "2000 minutes")
      .writeStream.format("memory").queryName("bridge").outputMode("append").start()
    // two sessions 50 min apart — separate under a 30-min gap
    ms.addData(Ev(1, ts(0), "a", 1.0), Ev(1, ts(50), "b", 2.0))
    q.processAllAvailable()
    // late bridging event at t25: within gap of both → ONE session of 3
    ms.addData(Ev(1, ts(25), "c", 4.0))
    q.processAllAvailable()
    ms.addData(Ev(9, ts(20000), "noop", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("bridge").filter(col("user_id") === 1)
      .select("n_events", "total_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((3L, 7.0)))
  }

  test("streaming monthly item counts (reference Q1) match batch in update mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val billings = Seq(
      (new Timestamp(1420070400000L), Seq("pane", "latte")),         // 2015-01
      (new Timestamp(1420156800000L), Seq("pane")),                  // 2015-01
      (new Timestamp(1422748800000L), Seq("latte", "uova", "pane"))) // 2015-02
    val ms = MemoryStream[(Timestamp, Seq[String])]
    val q = StreamingOps.monthlyItemCounts(ms.toDF().toDF("ts", "items"))
      .writeStream.format("memory").queryName("monthly").outputMode("update").start()
    ms.addData(billings: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("monthly")
      // update mode re-emits changed rows; keep the final count per key
      .groupBy("month", "item").agg(max("cnt").as("cnt"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val batch = StreamingOps.monthlyItemCounts(billings.toDF("ts", "items"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(streamed == batch)
    assert(batch(("2015-01", "pane")) == 2L)
  }

  test("streaming Q2 (monthly revenue) and Q3 (basket counts) match batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Q2: priced lines
    val priced = Seq(
      (new Timestamp(1420070400000L), "pane", 15.0),
      (new Timestamp(1420156800000L), "pane", 3.0),
      (new Timestamp(1422748800000L), "uova", 12.0))
    val ms2 = MemoryStream[(Timestamp, String, Double)]
    val q2 = StreamingOps.monthlyRevenue(ms2.toDF().toDF("ts", "item", "unitCost"))
      .writeStream.format("memory").queryName("rev").outputMode("complete").start()
    ms2.addData(priced: _*)
    q2.processAllAvailable(); q2.stop()
    val streamedRev = spark.table("rev").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(streamedRev == Map(("2015-01", "pane") -> 18.0, ("2015-02", "uova") -> 12.0))

    // Q3: basket streams through the PairsGenerator
    val baskets = Seq(
      (new Timestamp(1420070400000L), Seq("pane", "latte")),
      (new Timestamp(1420156800000L), Seq("latte", "pane", "uova")),
      (new Timestamp(1422748800000L), Seq("latte")))
    val ms3 = MemoryStream[(Timestamp, Seq[String])]
    val (_, pairCnt, _) = StreamingOps.basketCounts(ms3.toDF().toDF("ts", "items"))
    val q3 = pairCnt.writeStream.format("memory").queryName("pairs")
      .outputMode("complete").start()
    ms3.addData(baskets: _*)
    q3.processAllAvailable(); q3.stop()
    val streamedPairs = spark.table("pairs").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(streamedPairs == Map(
      ("latte", "pane") -> 2L, ("latte", "uova") -> 1L, ("pane", "uova") -> 1L))
  }

  test("streaming HLL: streamed registers agree EXACTLY with the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val saved = util.Try(spark.conf.get("spark.sql.streaming.stateStore.providerClass")).toOption
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // 400 users across 2 types, split over two micro-batches so the
      // register state must survive the batch boundary
      val batch1 = (1L to 250L).map(u => Ev(u, ts(0), if (u % 2 == 0) "click" else "view", 0.0))
      val batch2 = (200L to 400L).map(u => Ev(u, ts(1), if (u % 2 == 0) "click" else "view", 0.0))
      val ms = MemoryStream[Ev]
      val q = StreamingOps.distinctUsersSketch(ms.toDS())
        .writeStream.format("memory").queryName("hll_stream").outputMode("update").start()
      ms.addData(batch1: _*); q.processAllAvailable()
      ms.addData(batch2: _*); q.processAllAvailable()
      q.stop()
      // update mode: harmonic only decreases as registers grow — min is
      // the final state per key
      val streamed = spark.table("hll_stream")
        .groupBy("event_type").agg(min("harmonic").as("harmonic"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.operators.Hll.cardinality(
        (batch1 ++ batch2).toDF(), Seq("event_type"), col("user_id"))
        .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("harmonic")).toMap
      assert(streamed == batch,
        s"streamed registers diverge from batch sketch: $streamed vs $batch")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming CMS: streamed counters agree exactly with the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val saved = util.Try(spark.conf.get("spark.sql.streaming.stateStore.providerClass")).toOption
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // counters are integer sums (order-free), so the array must come
      // out identical no matter where the micro-batch boundary falls;
      // probe user 7 is odd → present in 'view' only, so the 'click'
      // probe exercises the zeros-included unseen-item min
      val batch1 = (1L to 250L).map(u => Ev(u, ts(0), if (u % 2 == 0) "click" else "view", 0.0))
      val batch2 = (200L to 400L).map(u => Ev(u, ts(1), if (u % 2 == 0) "click" else "view", 0.0))
      val ms = MemoryStream[Ev]
      val q = StreamingOps.frequencySketch(ms.toDS(), probeId = "7")
        .writeStream.format("memory").queryName("cms_stream").outputMode("update").start()
      ms.addData(batch1: _*); q.processAllAvailable()
      ms.addData(batch2: _*); q.processAllAvailable()
      q.stop()
      // update mode: every emitted stat is monotone nondecreasing, so
      // max() per key is the final state
      val streamed = spark.table("cms_stream").groupBy("event_type")
        .agg(max("n").as("n"), max("nonzero").as("nz"),
          max("max_c").as("mc"), max("probe_est").as("pe"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val all = batch1 ++ batch2
      for (tp <- Seq("click", "view")) {
        val df = all.filter(_.event_type == tp).toDF()
        val sk = graft.operators.Cms.counters(df, col("user_id"))
        val Array(nz, mc) = sk.agg(count(lit(1)), max(col("c")))
          .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
        val pe = graft.operators.Cms.pointEstimates(sk, Seq(7L).toDF("item"), "item")
          .collect().head.getAs[Long]("cms_estimate")
        assert(streamed(tp) == ((df.count(), nz, mc, pe)),
          s"$tp: streamed ${streamed(tp)} vs batch (${df.count()}, $nz, $mc, $pe)")
      }
      assert(streamed("view")._4 >= 1L, "probe user 7 is in 'view' — estimate must be >= 1")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming heavy hitters: MG guarantee holds across micro-batches, state stays <= k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // skewed stream: user 7 is 30% of 'click' traffic, user 9 is 25% of
    // 'view'; tail users are singletons. k = 9 → threshold n/10.
    def skewed(tp: String, heavy: Long, heavyN: Int, tailStart: Long, tailN: Int) =
      (0 until heavyN).map(_ => Ev(heavy, ts(0), tp, 0.0)) ++
        (0 until tailN).map(i => Ev(tailStart + i, ts(0), tp, 0.0))
    val b1 = skewed("click", 7L, 30, 100L, 35) ++ skewed("view", 9L, 25, 500L, 40)
    val b2 = skewed("click", 7L, 30, 200L, 35) ++ skewed("view", 9L, 25, 600L, 35)
    val saved = util.Try(spark.conf.get("spark.sql.streaming.stateStore.providerClass")).toOption
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamingOps.heavyHittersSketch(ms.toDS(), k = 9)
        .writeStream.format("memory").queryName("hh_stream").outputMode("update").start()
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      q.stop()
      // final emission per key = the one with max n (update mode)
      val fin = spark.table("hh_stream").as[StreamingOps.HeavyHitters]
        .collect().groupBy(_.event_type).map { case (t, rows) => t -> rows.maxBy(_.n) }
      assert(fin("click").n == 130 && fin("view").n == 125)
      // every >n/(k+1) item survives; state/candidates bounded by k
      assert(fin("click").candidates.contains("7"), fin("click").candidates.toString)
      assert(fin("view").candidates.contains("9"), fin("view").candidates.toString)
      assert(fin.values.forall(_.candidates.size <= 9))
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream-stream join attributes clicks to impressions within the window") {
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp, String)]
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val joined = StreamingOps.joinWithinWatermark(
      imps.toDF().toDF("user_id", "imp_ts", "ad"),
      clicks.toDF().toDF("user_id", "click_ts", "target"),
      key = "user_id", leftTs = "imp_ts", rightTs = "click_ts",
      within = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    // impression at t0; click 10 min later (attributed) arrives in a
    // LATER micro-batch; click 40 min later (outside window) dropped;
    // click for an unseen user dropped
    imps.addData((1L, ts(0), "adA"), (2L, ts(0), "adB"))
    q.processAllAvailable()
    clicks.addData((1L, ts(10), "buy"), (2L, ts(40), "late"), (9L, ts(5), "ghost"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attrib").select("user_id", "ad", "target").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "adA", "buy")))
  }

  test("streaming dedup drops within-watermark duplicates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamingOps.dedupWithinWatermark(ms.toDF(), Seq("user_id", "event_type"),
        watermark = "60 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    ms.addData(Ev(1, ts(0), "click", 1.0), Ev(1, ts(5), "click", 2.0)) // dup in-batch
    q.processAllAvailable()
    ms.addData(Ev(1, ts(10), "click", 3.0), Ev(1, ts(10), "view", 4.0)) // dup next batch + new key
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup").select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    // first arrival per (user, type) wins; later duplicates dropped
    assert(got == Set((1L, "click", 1.0), (1L, "view", 4.0)))
  }

  test("session boundary: exactly-gap-apart events share a session; gap+1us splits") {
    import java.sql.Timestamp
    import spark.implicits._
    val gapUs = 30L * 60 * 1000000
    def t(us: Long) = new Timestamp(us / 1000) // whole-ms fixtures
    // u1: exactly 30 min apart → ONE session (strict-> contract);
    // u2: 30 min + 1 ms apart → TWO sessions
    val events = Seq(
      (1L, t(0)), (1L, t(gapUs)),
      (2L, t(0)), (2L, t(gapUs + 1000))).toDF("user_id", "ts")
    val got = StreamingOps.sessionWindows(events, gap = "30 minutes", watermark = None)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L))
  }

  test("session_window batch == lag-based sessionize on driver events") {
    val sw = SparkEntry.queries("q_session_window")(spark, sf001)
      .select("user_id", "n_events", "session_start_us", "session_end_us")
      .collect().map(_.toSeq).toSet
    val lagBased = SparkEntry.queries("q_sessionize")(spark, sf001)
      .select("user_id", "n_events", "session_start_us", "session_end_us")
      .collect().map(_.toSeq).toSet
    assert(sw == lagBased)
    assert(sw.nonEmpty)
  }

  test("foreachBatch CDC: micro-batched merge converges to the one-shot merge, incl. a stale late batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    import graft.operators.Cdc

    val base = Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "ver")
    // version-guarded set: a change only wins if strictly newer — this
    // guard is what makes the micro-batched fold ORDER-INSENSITIVE to
    // stale late batches (without it, batch 3's ver=5 would clobber
    // batch 1's ver=20 because each foreachBatch merge only max_by's
    // WITHIN its own batch)
    def guarded(c: String) = when(
      col("base.k").isNull || col(s"chg.ver") > col("base.ver"),
      col(s"chg.$c")).otherwise(col(s"base.$c"))
    val set = Map("v" -> guarded("v"), "ver" -> guarded("ver"))

    var current = base
    val ms = MemoryStream[(Long, String, Long, String)]
    val q = ms.toDF().toDF("k", "v", "ver", "op").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val merged = Cdc.applyChanges(current, batch, "k", Seq("ver"), "op", set)
          .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        current = merged.toDF("k", "v", "ver")
      }
      .start()
    ms.addData((1L, "a2", 20L, "U"), (3L, "c", 20L, "I"))
    q.processAllAvailable()
    ms.addData((2L, "-", 30L, "D"), (4L, "d", 30L, "I"))
    q.processAllAvailable()
    ms.addData((1L, "stale", 5L, "U")) // late, older than the applied ver=20
    q.processAllAvailable()
    q.stop()

    val allChanges = Seq(
      (1L, "a2", 20L, "U"), (3L, "c", 20L, "I"),
      (2L, "-", 30L, "D"), (4L, "d", 30L, "I"),
      (1L, "stale", 5L, "U")).toDF("k", "v", "ver", "op")
    val oneShot = Cdc.applyChanges(base, allChanges, "k", Seq("ver"), "op", set)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val streamed = current.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == oneShot)
    assert(streamed == Set((1L, "a2", 20L), (3L, "c", 20L), (4L, "d", 30L)))
  }
}
