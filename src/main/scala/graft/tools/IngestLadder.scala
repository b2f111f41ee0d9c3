package graft.tools

import org.apache.spark.sql.functions._

import graft.Harness.{exponentLines, num, timed}
import graft.operators.{SemDedup, Similarity}

/** Measures the semantic tier's INGEST claim ([[SemDedup.dedupIngest]]
  * scaladoc): per-batch cost scales with the batch and its touched
  * cells — never a standing-corpus re-assignment — beside the
  * counterfactual a pipeline without the ingest path pays for the same
  * arrival (full corpus∪batch re-dedup via [[SemDedup.dedupProbed]]).
  *
  * Protocol per point (corpus = N× sf0.1 embeddings via the ladder's
  * replica-disjoint sign-flip construction; quantizer sized by
  * [[SemDedup.cellsFor]] on the deterministic
  * [[Similarity.hashCentroids]] frame, so every point holds cell
  * occupancy ≈ target — the sizing rule the whole family's linearity
  * rests on):
  *   - the standing [[SemDedup.probedIndex]] is built ONCE and WRITTEN
  *     to parquet (the stored posture of a real pipeline — ingest
  *     reads it, never recomputes it);
  *   - batch, two shapes, both exact dups of standing rows so the
  *     expected survivor count is 0 (a correctness probe the timing
  *     rides on — a kept row means the standing side was not
  *     consulted): DEFAULT = replica-0's 2k vectors re-idded (a
  *     corpus-SPREAD arrival — touches every cell, the worst case for
  *     the touched-cell carve-out); mode `local` = the standing
  *     members of the 16 smallest-id cells re-idded (a cell-LOCALIZED
  *     arrival, ~16 × occupancy ≈ 2k members at every point since the
  *     sizing rule fixes occupancy — the common case: one source's
  *     drop, one crawl shard);
  *   - (a) dedupIngest against the stored index, min-of-2 steady;
  *   - (b) counterfactual: dedupProbed over corpus ∪ batch, min-of-2.
  *
  * The claim holds if (a)'s cross-point exponent stays far below (b)'s
  * ≈ 1, and the `local` mode's stays near 0 — ingest cost ∝ touched
  * members, and a localized batch's touched set does not grow with the
  * corpus. The spread mode keeps corpus-linear terms by construction
  * (every cell's members attach) plus the batch's n_batch·k assignment
  * cosines; "≪ the re-dedup exponent" is its bar (the [[RemoveLadder]]
  * reading).
  *
  * Usage: runMain graft.tools.IngestLadder [baseDir] [workRoot] [points] [mode]
  *   points: comma-separated replication factors, default "30,100,200"
  *   (200× → 400k vectors, k = 3125 — the flat tier's last comfortable
  *   rung; past [[SemDedup.FlatAssignCeiling]] the hier/SRP tiers own
  *   the corpus and HierLadder owns the measurement).
  *   mode: `local` for the cell-localized batch (default: spread);
  *   `srp` measures the SRP tier instead ([[graft.operators.Dedup
  *   .embeddingNearDupsAgainst]] over a stored [[graft.operators.Dedup
  *   .srpIndex]], planes sized by srpPlanesFor at index build): batch =
  *   replica-0 re-idded (every member an exact dup of a standing row,
  *   so the pair stream must contain ≥ n_batch cos=1 pairs — the
  *   correctness probe), counterfactual = embeddingNearDupsAuto over
  *   corpus ∪ batch. Default srp points "100,300,1000" (up to 2M
  *   standing — the tier's home range on this box).
  *   mode `stream` measures the STREAMING fold itself (r16 task 6:
  *   [[graft.streaming.SemDedupIngest.dedupIngestStream]], not the
  *   batch API): per point, a seeded store ingests 96 micro-batches
  *   (args(4) overrides) of 50 fresh deterministic vectors each
  *   (hash-derived), once with compaction off and once folding every
  *   8 dirs. Batches are TINY on purpose: per-batch dedup work is then
  *   small and fixed, so the growing term — the per-batch
  *   listing/footer/planning cost the batch-dir count drives (the r15
  *   what's-missing #1) — dominates the curve instead of hiding under
  *   dedup cost. Reported per batch: wall seconds + committed dir
  *   count. The growth signal is mean(batches 88–95) / mean(batches
  *   8–15) (the first 8 are JIT/codegen warmup and excluded): without
  *   compaction it carries the aging, with compaction it should sit
  *   ~flat. Default points "3,30" (flat tier; the fold's plan shape is
  *   tier-blind, so one tier's growth curve speaks for all three).
  *   mode `takedown` measures the takedown lifecycle (r16 verdict task
  *   4) on a seeded store: four 1000-id remove() rounds, the UNVACUUMED
  *   [[graft.streaming.SemDedupIngest.Store.standingCount]] after each
  *   (the staleness gate's documented slow path — a full anti-join
  *   count per micro-batch while tombstones are outstanding) as
  *   tombstone files accrue 1→4, then vacuum() (the seed rewrite that
  *   restores the metadata-only fast path) and the fast count again.
  *   Cross-point exponents: tombed-count and vacuum should both track
  *   the standing size ≈ linearly (the anti-join count job and the
  *   seed rewrite are one corpus pass each); the fast count should stay
  *   flat (footer metadata). Default points "100,300,1000" (the SRP
  *   tier's, reusing its cached standing index — takedown is
  *   tier-blind).
  *   mode `rebuild` measures the RESIZE lifecycle event (r15 task 2):
  *   the standing [[graft.operators.Dedup.srpIndexRebuild]] — manifest
  *   frozen at n/4 (always stale: srpPlanesFor is log₂-quantized), the
  *   gated re-encode runs at the current sizing and PERSISTS the new
  *   index (the store write is part of the event) — beside the
  *   counterfactual a pipeline without the rebuild path pays: a full
  *   re-dedup of the corpus (embeddingNearDupsAuto), which re-derives
  *   every pair the standing labels already encode. Correctness probe:
  *   the rebuilt index has exactly tables·n code rows and its manifest
  *   is fresh at the current size.
  */
object IngestLadder {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workRoot = args.lift(1).getOrElse("/tmp")
    val srpMode = args.lift(3).contains("srp")
    val rebuildMode = args.lift(3).contains("rebuild")
    val streamMode = args.lift(3).contains("stream")
    val takedownMode = args.lift(3).contains("takedown")
    val points = args.lift(2)
      .getOrElse(
        if (srpMode || rebuildMode || takedownMode) "100,300,1000"
        else if (streamMode) "3,30" else "30,100,200")
      .split(",").toSeq.map(_.trim.toInt)
    val localMode = args.lift(3).contains("local")
    val spark = graft.Harness.session()

    if (streamMode) {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.SemDedupIngest
      val nBatches = args.lift(4).map(_.toInt).getOrElse(96)
      // head window = batches [8,16), tail = last 8: both need room
      // past the 8-batch JIT warmup or the growth ratio divides short/
      // overlapping windows (Infinity/NaN in the emitted JSON)
      require(nBatches >= 24,
        s"stream mode needs >= 24 batches for warmup + head/tail windows (got $nBatches)")
      // args(5) overrides for the SURVIVOR-HEAVY question (r16 verdict
      // task 7): near-orthogonal arrivals all survive, so batchSize
      // 2000 at point 100 accrues ~192k survivors over 96 batches —
      // enough for compact()'s full accrued-set rewrite to show its
      // linear-in-age spike in the per-batch t_s lines (dirs drops mark
      // the fold epochs). Default 50 keeps the original listing-growth
      // measurement, where dedup cost is pinned small on purpose.
      val batchSize = args.lift(5).map(_.toInt).getOrElse(50)
      // fresh deterministic arrivals: hash-derived vectors are mutually
      // near-orthogonal in 64-dim (|cos| ≲ 0.15 ≪ τ = 0.4), so nearly
      // every row survives and the store's batch-dir listing GROWS —
      // the aging this mode exists to measure
      val arrivals: IndexedSeq[IndexedSeq[(Long, Array[Float])]] = {
        val all = Similarity.hashCentroids(nBatches * batchSize, 64)
        (0 until nBatches).map { b =>
          (0 until batchSize).map { i =>
            (7000000000000L + b.toLong * batchSize + i,
              all(b * batchSize + i)._2)
          }
        }
      }
      points.foreach { n =>
        val dir = s"$workRoot/graft_ingest${n}x"
        HierLadder.generateEmbeddings(spark, base, dir, n)
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val nVec = emb.count()
        val k = SemDedup.cellsFor(nVec)
        require(k <= SemDedup.FlatAssignCeiling,
          s"point ${n}x (n=$nVec, k=$k) belongs to the hier tier")
        val centroids = Similarity.hashCentroids(k, 64)
        val (idx, manifest) = SemDedup.probedIndexBuild(
          emb, "vec_id", "embedding", centroids, knownCount = Some(nVec))
        // the quantizer band must hold across the whole stream's growth
        // (nBatches·batchSize arrivals) or the gate kills it mid-ladder
        require(!SemDedup.quantizerStale(manifest,
          nVec + nBatches.toLong * batchSize), "stream outgrows the band")
        val ingestedByMode = Seq(0, 8).map { compactEvery =>
          val storeDir = s"$dir/stream_store_c$compactEvery"
          val store = new SemDedupIngest.Store(spark, storeDir,
            "vec_id", "embedding")
          store.seed(emb, idx)
          graft.Caching.release()
          val ms = MemoryStream[(Long, Array[Float])]
          val q = SemDedupIngest.dedupIngestStream(
            ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
            threshold = 0.4, centroids, store,
            manifest = Some(manifest), compactEvery = compactEvery).start()
          val times = try arrivals.zipWithIndex.map { case (batch, i) =>
            val t0 = System.nanoTime()
            ms.addData(batch: _*)
            q.processAllAvailable()
            val t = (System.nanoTime() - t0) / 1e9
            println(s"""{"point":"${n}x","mode":"stream","compact_every":$compactEvery,"batch":$i,"t_s":${num(t)},"dirs":${store.committedBatches.size}}""")
            t
          } finally q.stop()
          val ingested = store.ingestedIds.count()
          // head window starts at batch 8: the first batches carry JIT/
          // codegen warmup that would otherwise mask (or fake) growth
          val head = times.slice(8, 16).sum / 8
          val tailM = times.takeRight(8).sum / 8
          println(s"""{"point":"${n}x","mode":"stream","compact_every":$compactEvery,"n_standing":$nVec,"n_batches":$nBatches,"batch_size":$batchSize,"ingested":$ingested,"head8_mean_s":${num(head)},"tail8_mean_s":${num(tailM)},"growth":${num(tailM / head)},"dirs_final":${store.committedBatches.size}}""")
          graft.Caching.release()
          // retire the store (a per-mode scratch tree, not ladder cache)
          val p = new org.apache.hadoop.fs.Path(storeDir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
          ingested
        }
        // the timing rides a correctness probe: compaction must not
        // change the fold's admitted set (StreamingSpec pins it
        // bit-exactly at unit scale; this holds it at ladder scale)
        require(ingestedByMode.distinct.size == 1,
          s"compaction changed the admitted set at ${n}x: $ingestedByMode")
      }
      spark.stop()
      return
    }

    if (takedownMode) {
      import spark.implicits._
      import graft.streaming.SemDedupIngest
      import graft.operators.Dedup
      val rows = points.map { n =>
        val dir = s"$workRoot/graft_ingest${n}x"
        HierLadder.generateEmbeddings(spark, base, dir, n)
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val nVec = emb.count()
        // standing index: the SRP tier's (cached by the srp mode's own
        // stamp — takedown is tier-blind, this just gives the store a
        // REAL index tree whose rewrite cost vacuum must pay)
        val planes = Similarity.srpPlanesFor(nVec, 128)
        val stamp = s"$base|$n|$planes"
        val okFile = new java.io.File(s"$dir/_SRP_INGEST_OK")
        if (!(okFile.exists() &&
              new String(java.nio.file.Files.readAllBytes(okFile.toPath)) == stamp)) {
          Dedup.srpIndex(emb, "vec_id", "embedding", dim = 64, planes = planes)
            .write.mode("overwrite").parquet(s"$dir/srp_index.parquet")
          graft.Caching.release()
          java.nio.file.Files.write(okFile.toPath, stamp.getBytes)
        }
        val storedIdx = spark.read.parquet(s"$dir/srp_index.parquet")
        val storeDir = s"$dir/takedown_store"
        def rmStore(): Unit = {
          val p = new org.apache.hadoop.fs.Path(storeDir)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
        }
        rmStore() // the mode mutates the store — always start fresh
        val store = new SemDedupIngest.Store(spark, storeDir,
          "vec_id", "embedding", indexCols = Seq("table", "bucket"))
        val (_, tSeed) = timed { store.seed(emb, storedIdx); 0L }
        def timedCount(): (Long, Double) = timed(store.standingCount)
        val (c0, tf1) = timedCount()
        require(c0 == nVec, s"seeded count $c0 != $nVec at ${n}x")
        val tFast = math.min(tf1, timedCount()._2)
        // four 1000-id takedown rounds: remove() cost, then the
        // UNVACUUMED standingCount (the per-batch staleness gate's
        // slow path) as tombstone files accrue 1 → 4
        val removeIds = emb.select("vec_id").orderBy("vec_id")
          .limit(4000).as[Long].collect()
        graft.Caching.release()
        val perRound = (0 until 4).map { j =>
          val slice = removeIds.slice(j * 1000, (j + 1) * 1000).toSeq
          val (_, tRemove) = timed { store.remove(slice.toDF("vec_id")); 0L }
          val (cj, ts1) = timedCount()
          require(cj == nVec - (j + 1) * 1000,
            s"live count $cj != ${nVec - (j + 1) * 1000} after round $j at ${n}x")
          val tSlow = math.min(ts1, timedCount()._2)
          (tRemove, tSlow)
        }
        // the purge: seed rewrite minus tombstones (no gen dirs here —
        // the fold-side purge cost is the stream mode's compaction
        // number; this isolates the seed-rewrite term vacuum owns)
        val (_, tVacuum) = timed { require(store.vacuum(0L)); 0L }
        val (c2, tf2a) = timedCount()
        require(c2 == nVec - 4000, s"post-vacuum count $c2 at ${n}x")
        val tFast2 = math.min(tf2a, timedCount()._2)
        val removeJson = perRound.map(r => num(r._1)).mkString("[", ",", "]")
        val slowJson = perRound.map(r => num(r._2)).mkString("[", ",", "]")
        println(s"""{"point":"${n}x","mode":"takedown","n_standing":$nVec,"t_seed_s":${num(tSeed)},"t_count_fast_s":${num(tFast)},"t_remove_s":$removeJson,"t_count_tombed_s":$slowJson,"t_vacuum_s":${num(tVacuum)},"t_count_fast_after_s":${num(tFast2)},"n_removed":4000}""")
        rmStore()
        (n, perRound.map(_._2).max, tVacuum)
      }
      exponentLines(rows, "tombed-count", "vacuum").foreach(println)
      spark.stop()
      return
    }

    if (rebuildMode) {
      import graft.operators.Dedup
      val rows = points.map { n =>
        val dir = s"$workRoot/graft_ingest${n}x"
        HierLadder.generateEmbeddings(spark, base, dir, n)
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val nVec = emb.count()
        // the simulated lifecycle: sizing frozen when the corpus was a
        // quarter of today's — log2 quantization makes it always stale
        val mOld = Dedup.SrpManifest(nVec / 4,
          Similarity.srpPlanesFor(nVec / 4, 128), 16, 128)
        require(Dedup.srpIndexStale(mOld, nVec),
          s"fixture lost its teeth at ${n}x: n/4 manifest is not stale")
        def rebuildRun(): (Long, Double) = timed {
          val (idx, m2) = Dedup.srpIndexRebuild(emb, "vec_id", "embedding",
            64, mOld, nVec)
          idx.write.mode("overwrite").parquet(s"$dir/srp_index_rebuilt.parquet")
          require(!Dedup.srpIndexStale(m2, nVec), "rebuilt manifest still stale")
          spark.read.parquet(s"$dir/srp_index_rebuilt.parquet").count()
        }
        def fullRun(): (Long, Double) = timed {
          Dedup.embeddingNearDupsAuto(emb, "vec_id", "embedding", dim = 64,
            threshold = 0.4, knownCount = Some(nVec)).count()
        }
        val (idxRows, _) = rebuildRun() // cold + the correctness probe
        require(idxRows == 16L * nVec,
          s"rebuilt index has $idxRows rows, want ${16L * nVec} at ${n}x")
        val tRebuild = math.min(rebuildRun()._2, rebuildRun()._2)
        val (fullPairs, _) = fullRun()
        val tFull = math.min(fullRun()._2, fullRun()._2)
        println(s"""{"point":"${n}x","mode":"rebuild","n_standing":$nVec,"planes_old":${mOld.planes},"planes_new":${Similarity.srpPlanesFor(nVec, 128)},"t_rebuild_s":${num(tRebuild)},"t_full_rededup_s":${num(tFull)},"index_rows":$idxRows,"full_pairs":$fullPairs}""")
        (n, tRebuild, tFull)
      }
      exponentLines(rows, "rebuild", "full-rededup").foreach(println)
      spark.stop()
      return
    }

    if (srpMode) {
      import graft.operators.Dedup
      val rows = points.map { n =>
        val dir = s"$workRoot/graft_ingest${n}x"
        HierLadder.generateEmbeddings(spark, base, dir, n)
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val nVec = emb.count()
        val planes = Similarity.srpPlanesFor(nVec, 128)
        val stamp = s"$base|$n|$planes"
        val okFile = new java.io.File(s"$dir/_SRP_INGEST_OK")
        if (!(okFile.exists() &&
              new String(java.nio.file.Files.readAllBytes(okFile.toPath)) == stamp)) {
          Dedup.srpIndex(emb, "vec_id", "embedding", dim = 64, planes = planes)
            .write.mode("overwrite").parquet(s"$dir/srp_index.parquet")
          graft.Caching.release()
          java.nio.file.Files.write(okFile.toPath, stamp.getBytes)
        }
        val storedIdx = spark.read.parquet(s"$dir/srp_index.parquet")
        val batch = spark.read.parquet(s"$base/embeddings.parquet")
          .select((col("vec_id") + lit(5000000000000L)).as("vec_id"), col("embedding"))
        val nBatch = batch.count()
        def ingestRun(): (Long, Double) = timed {
          Dedup.embeddingNearDupsAgainst(emb, storedIdx, batch,
            "vec_id", "embedding", dim = 64, threshold = 0.4,
            planes = planes).count()
        }
        def fullRun(): (Long, Double) = timed {
          Dedup.embeddingNearDupsAuto(emb.unionByName(batch),
            "vec_id", "embedding", dim = 64, threshold = 0.4,
            knownCount = Some(nVec + nBatch)).count()
        }
        val (pairsN, _) = ingestRun() // cold + the correctness probe:
        // exact dups share every bucket, so each batch member must pair
        // with (at least) its standing twin
        require(pairsN >= nBatch,
          s"ingest found $pairsN pairs for a $nBatch-dup batch at ${n}x — " +
            "the standing index was not consulted")
        val tIngest = math.min(ingestRun()._2, ingestRun()._2)
        val (fullPairs, _) = fullRun()
        val tFull = math.min(fullRun()._2, fullRun()._2)
        println(s"""{"point":"${n}x","mode":"srp","n_standing":$nVec,"planes":$planes,"n_batch":$nBatch,"t_ingest_s":${num(tIngest)},"t_full_neardup_s":${num(tFull)},"ingest_pairs":$pairsN,"full_pairs":$fullPairs}""")
        (n, tIngest, tFull)
      }
      exponentLines(rows, "srp ingest", "full-neardup").foreach(println)
      spark.stop()
      return
    }

    val rows = points.map { n =>
      val dir = s"$workRoot/graft_ingest${n}x"
      HierLadder.generateEmbeddings(spark, base, dir, n)
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val nVec = emb.count()
      val k = SemDedup.cellsFor(nVec)
      require(k <= SemDedup.FlatAssignCeiling,
        s"point ${n}x (n=$nVec, k=$k) belongs to the hier tier — HierLadder's rung")
      val centroids = Similarity.hashCentroids(k, 64)

      // standing probed index, built once per (base, n, k) and stored
      val stamp = s"$base|$n|$k"
      val okFile = new java.io.File(s"$dir/_INGEST_OK")
      if (!(okFile.exists() &&
            new String(java.nio.file.Files.readAllBytes(okFile.toPath)) == stamp)) {
        SemDedup.probedIndex(emb, "vec_id", "embedding", centroids)
          .write.mode("overwrite").parquet(s"$dir/probed_index.parquet")
        graft.Caching.release()
        java.nio.file.Files.write(okFile.toPath, stamp.getBytes)
      }
      val storedIdx = spark.read.parquet(s"$dir/probed_index.parquet")

      // fixed arrival under disjoint ids — exact dups of standing rows
      // (expected survivors: 0). Spread: replica-0's vectors (touch
      // every cell). Local: the members of the 16 smallest-id cells
      // (~16 × occupancy members — constant across points).
      val batch =
        if (localMode)
          storedIdx.filter(col("rank") === 1 && col("cell") < 16)
            .select(col("vec_id"))
            .join(emb, Seq("vec_id"))
            .select((col("vec_id") + lit(5000000000000L)).as("vec_id"), col("embedding"))
        else
          spark.read.parquet(s"$base/embeddings.parquet")
            .select((col("vec_id") + lit(5000000000000L)).as("vec_id"), col("embedding"))
      val nBatch = batch.count()

      def ingestRun(): (Long, Double) = timed {
        SemDedup.dedupIngest(emb, storedIdx, batch, "vec_id", "embedding",
          threshold = 0.4, centroids).count()
      }
      def fullRun(): (Long, Double) = timed {
        SemDedup.dedupProbed(emb.unionByName(batch), "vec_id", "embedding",
          threshold = 0.4, centroids).count()
      }
      val (keptN, _) = ingestRun() // cold; also the correctness probe
      require(keptN == 0L,
        s"ingest kept $keptN of a batch of exact standing dups at ${n}x — " +
          "the standing side was not consulted")
      val tIngest = math.min(ingestRun()._2, ingestRun()._2)
      val (fullKept, _) = fullRun()
      val tFull = math.min(fullRun()._2, fullRun()._2)
      val mode = if (localMode) "local" else "spread"
      println(s"""{"point":"${n}x","mode":"$mode","n_standing":$nVec,"k":$k,"n_batch":$nBatch,"t_ingest_s":${num(tIngest)},"t_full_rededup_s":${num(tFull)},"full_kept":$fullKept}""")
      (n, tIngest, tFull)
    }
    exponentLines(rows, "ingest", "full-rededup").foreach(println)
    spark.stop()
  }
}
