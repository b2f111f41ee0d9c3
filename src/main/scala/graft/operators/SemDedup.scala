package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic deduplication over embedding clusters — the SemDeDup recipe
  * (Abbas et al., arXiv:2303.09540): exact/lexical dedup misses
  * paraphrases and re-renderings, so cluster the EMBEDDING space with a
  * coarse quantizer and look for near-duplicates only WITHIN a cluster.
  * The cluster bound is what makes the O(n²) cosine comparison feasible:
  * pair generation is keyed by cell, so total work is Σ|cell|² instead
  * of |corpus|² — the same bound class as the LSH bucket join
  * ([[Dedup.lshCandidates]]), but in semantic space.
  *
  * Stages (each keyed/distributed, nothing collects):
  *   1. assign: nearest frozen centroid per embedding — the constant
  *      centroid frame broadcasts; argmax cosine plans as the native
  *      bounded-heap top-k (rank-1, cell tie-break), identical to the
  *      q_ann_ivf serving rule.
  *   2. candidates: ids-only self-join on the cell key (id1 < id2
  *      canonical), optional per-cell cap against degenerate clusters.
  *   3. exact cosine on re-attached vectors; pairs ≥ threshold are dup
  *      edges.
  *   4. survivor rule: drop every id that appears as the HIGHER id of a
  *      dup edge (min-id greedy, the [[graft.queries.DedupQueries]]
  *      curation rule) — deterministic, one anti join, no iteration.
  *
  * At 100 TB: centroid count scales with corpus (k ≈ n/target-cell) so
  * cells stay bounded; the frozen-centroid posture means assignment is
  * a map-only broadcast stage, and only the (cell)-keyed pair join
  * shuffles. `maxCellSize` is the honest cap for adversarial mass-
  * duplicate corpora (caps candidate generation, trading recall for a
  * hard cost bound — same contract as lshCandidates' bucket cap).
  */
object SemDedup {

  /** (id, cell): nearest-centroid assignment, the q_ann_ivf cell rule
    * (max cosine, cell tie-break). Map-only: centroids broadcast. */
  def assign(emb: DataFrame, idCol: String, vecCol: String,
             centroids: Seq[(Int, Array[Float])]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cdf = broadcast(centroids.toDF("cell", "center"))
    val scored = emb.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .crossJoin(cdf)
      .withColumn("csim", Similarity.cosine(col("_v"), col("center")))
    // localGroups: per-corpus-row groups off a broadcast cross join —
    // contiguous in one partition, exchange-free single heap pass
    TopK.perGroupNative(scored, Seq("_id"), "csim", Seq("cell"), 1,
        localGroups = true)
      .select(col("_id").as(idCol), col("cell"))
  }

  private def cap(assigned: DataFrame, idCol: String, maxCellSize: Option[Int]): DataFrame =
    maxCellSize match {
      case Some(n) =>
        // deterministic per-cell cap: keep the n smallest ids (the
        // production guard for degenerate clusters; a no-op when every
        // cell is under the cap, which keeps the oracle exact)
        TopK.perGroupNative(
          assigned.withColumn("negid", -col(idCol)), Seq("cell"), "negid",
          Seq(idCol), n).select(col(idCol), col("cell"))
      case None => assigned
    }

  private def edgesOf(emb: DataFrame, assigned: DataFrame, idCol: String,
                      vecCol: String, threshold: Double): DataFrame = {
    // attach each id's vector ONCE to its (cell, id) assignment — n
    // narrow rows per side through the cell exchange — so the candidate
    // pair stream (the operator's biggest frame, n·occupancy rows)
    // materializes WITH both vectors in place and flows straight into
    // the codegen'd cosine filter with no further shuffle. The LSH
    // family's ids-only discipline exists to dedup multi-table
    // candidates BEFORE paying for vector re-attach; SemDedup generates
    // each pair exactly once (one cell per id), so ids-only here would
    // shuffle the full pair frame twice (once per id re-attach join)
    // for nothing — at 100 TB that is the difference between exchanging
    // the corpus and exchanging the candidate set.
    val vecs = emb.select(col(idCol), col(vecCol))
    val withVec = assigned.join(vecs, Seq(idCol))
    val left = withVec.select(col("cell"), col(idCol).as("id1"), col(vecCol).as("v1"))
    val right = withVec.select(col("cell"), col(idCol).as("id2"), col(vecCol).as("v2"))
    left.join(right, Seq("cell")).filter(col("id1") < col("id2"))
      .withColumn("cos_sim", Similarity.cosine(col("v1"), col("v2")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id1"), col("id2"), col("cell"), col("cos_sim"))
  }

  /** (id, cell, rank): each id's top-`probes` nearest cells under the
    * flat quantizer — the multiprobe assignment behind [[dedupProbed]].
    * Same broadcast cross-join + exchange-free heap as [[assign]]
    * (k = probes instead of 1); ranking the ≤ probes survivor rows
    * costs ONE exchange of the pruned narrow (id, cell, csim) stream —
    * never the n·k cross join. Rank order ≡ the heap's (csim desc,
    * cell asc), so rank = 1 IS [[assign]]'s cell. */
  private[graft] def assignProbed(emb: DataFrame, idCol: String, vecCol: String,
                                  centroids: Seq[(Int, Array[Float])],
                                  probes: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(probes >= 1, s"probes must be >= 1, got $probes")
    val cdf = broadcast(centroids.toDF("cell", "center"))
    val scored = emb.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .crossJoin(cdf)
      .withColumn("csim", Similarity.cosine(col("_v"), col("center")))
    val top = TopK.perGroupNative(scored, Seq("_id"), "csim", Seq("cell"),
        probes, localGroups = true)
      .select(col("_id"), col("cell"), col("csim"))
    rankProbed(top, idCol)
  }

  /** Rank a pruned (_id, cell, csim) probe stream per id — (csim desc,
    * cell asc), the heap's own order — and emit (idCol, cell, rank). */
  private def rankProbed(top: DataFrame, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id")).orderBy(col("csim").desc, col("cell").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("_id").as(idCol), col("cell"), col("rank"))
  }

  /** Boundary-pair candidate edges over a multiprobe assignment: a pair
    * is a candidate when the two ids PROBE a common cell (cells(a) ∩
    * cells(b) ≠ ∅ over each id's top-`probes` cells) — the multiprobe-
    * LSH OR-rule applied to the SemDeDup quantizer. With probes = 2
    * this recovers exactly the loss the r12 seam measurement localized:
    * near-dup pairs split across a cell boundary (rank-1 cells differ,
    * but each id's 2nd-ranked cell is its twin's — measured +8.5%
    * recall at operating scale, SemDedupSpec). Pair work is bounded by
    * Σ|probed-cell|² ≈ probes² × the within-cell bound — the same cap
    * discipline, with `maxCellSize` applied per probed cell. A pair
    * sharing both probed cells is generated twice; the min-id survivor
    * rule consumes a distinct loser set, so duplicates cost only the
    * second cosine. */
  private def edgesProbed(emb: DataFrame, probed: DataFrame, idCol: String,
                          vecCol: String, threshold: Double): DataFrame = {
    val vecs = emb.select(col(idCol), col(vecCol))
    val withVec = probed.select(col(idCol), col("cell")).join(vecs, Seq(idCol))
    val left = withVec.select(col("cell"), col(idCol).as("id1"), col(vecCol).as("v1"))
    val right = withVec.select(col("cell"), col(idCol).as("id2"), col(vecCol).as("v2"))
    left.join(right, Seq("cell")).filter(col("id1") < col("id2"))
      .withColumn("cos_sim", Similarity.cosine(col("v1"), col("v2")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id1"), col("id2"), col("cell"), col("cos_sim"))
  }

  /** Survivor rule over a RANKED multiprobe assignment: candidates from
    * [[edgesProbed]] (any shared probed cell), output = rank-1 (id,
    * cell) rows minus distinct higher-ids — so the emitted assignment
    * is identical to the single-probe tiers' and only the candidate
    * generator widens. */
  private def dedupRanked(emb: DataFrame, rankedAssign: DataFrame,
                          idCol: String, vecCol: String, threshold: Double,
                          maxCellSize: Option[Int]): DataFrame = {
    val ranked = graft.Caching.persistTracked(rankedAssign)
    val losers = edgesProbed(emb,
        cap(ranked.select(col(idCol), col("cell")), idCol, maxCellSize),
        idCol, vecCol, threshold)
      .select(col("id2").as(idCol)).distinct()
    ranked.filter(col("rank") === 1).select(col(idCol), col("cell"))
      .join(losers, Seq(idCol), "left_anti")
  }

  /** [[dedup]] with second-probe boundary recovery: each id probes its
    * top-`probes` cells and a pair is compared when ANY probed cell is
    * shared. Closes the within-cell-only recall gap (a near-dup pair
    * whose members rank-1 into different cells — the one measured
    * quality gap of the quantizer tiers, 0.915 → ≥0.98 at operating
    * scale) for ≤ probes² × the within-cell pair bound. Output contract
    * unchanged: (id, rank-1 cell). The default quantizer-tier entry of
    * [[dedupAuto]]; [[dedup]] remains the literal single-probe SemDeDup
    * recipe (Abbas et al.).
    *
    * MEASURED COST OF THE RECALL BUY (r14/r15): the two-probe rule took
    * q_semdedup_hier 0.94 → 1.47 s (1.57×) for seam recall
    * 0.915 → 0.995 at operating scale (sf0.1 + 400 planted, τ = 0.8).
    * A margin-band variant ([[dedupProbedMargin]]: probe 2 only when
    * the top1/top2 assignment margin is small, i.e. the id actually
    * sits near a boundary) was prototyped and measured in SemDedupSpec
    * against the same ground truth ON THE SAME frozen centroids,
    * training excluded from every timing: probe-1 recall 0.915 @
    * 0.7 s, margin-band(0.05) 0.98 @ 0.8 s, full probe-2 0.995 @
    * 0.9 s. The measured verdict: at operating scale the probe-2
    * premium over the margin band is ~12% of the rule's cost for
    * +1.5% recall — the r14 q_semdedup_hier delta was mostly the
    * ranked-assignment machinery, not pair work — and the margin
    * threshold would be a NEW per-corpus operating point (exactly the
    * fixed-hyperparameter class the scale ladder keeps catching), so
    * unconditional probe-2 stays the default and the margin band stays
    * a measured private prototype. */
  def dedupProbed(emb: DataFrame, idCol: String, vecCol: String,
                  threshold: Double,
                  centroids: Seq[(Int, Array[Float])] = IvfCentroids.cells,
                  maxCellSize: Option[Int] = None,
                  probes: Int = 2): DataFrame =
    dedupRanked(emb, assignProbed(emb, idCol, vecCol, centroids, probes),
      idCol, vecCol, threshold, maxCellSize)

  /** PROTOTYPE (spec-measured, deliberately not a public operating
    * point — see [[dedupProbed]]'s scaladoc for the measured verdict):
    * probe-2 only where it can matter. An id keeps its second probe
    * only when its top1/top2 assignment margin (csim₁ − csim₂) is
    * below `margin` — i.e. the id genuinely sits near a cell boundary;
    * interior ids (large margin) stay single-probe, so the extra pair
    * work concentrates on the boundary band instead of doubling
    * everywhere. Candidate recall is bounded between within-cell-only
    * (margin → 0) and full probe-2 (margin → 2); WHERE in that range a
    * given `margin` lands depends on the corpus' assignment-margin
    * distribution — a new per-corpus operating point, which is why the
    * unconditional probe-2 remains [[dedupAuto]]'s default. */
  private[graft] def dedupProbedMargin(emb: DataFrame, idCol: String,
                                       vecCol: String, threshold: Double,
                                       centroids: Seq[(Int, Array[Float])],
                                       margin: Double,
                                       maxCellSize: Option[Int] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cdf = broadcast(centroids.toDF("cell", "center"))
    val scored = emb.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .crossJoin(cdf)
      .withColumn("csim", Similarity.cosine(col("_v"), col("center")))
    val top = TopK.perGroupNative(scored, Seq("_id"), "csim", Seq("cell"), 2,
        localGroups = true)
      .select(col("_id"), col("cell"), col("csim"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id")).orderBy(col("csim").desc, col("cell").asc)
    val wId = org.apache.spark.sql.expressions.Window.partitionBy(col("_id"))
    val ranked = top.withColumn("rank", row_number().over(wRank))
      .withColumn("_margin", max(col("csim")).over(wId) - col("csim"))
      .filter(col("rank") === 1 || col("_margin") < margin)
      .select(col("_id").as(idCol), col("cell"), col("rank"))
    dedupRanked(emb, ranked, idCol, vecCol, threshold, maxCellSize)
  }

  /** (id, cell, rank): the stored probed index of a standing corpus —
    * the public artifact an ingest pipeline persists ONCE (beside the
    * embeddings) and reuses for every arriving batch, so ingest never
    * re-assigns the standing corpus. Rank 1 is [[assign]]'s cell;
    * rank ≤ probes are the boundary-recovery probes ([[dedupProbed]]).
    * Refresh on centroid retrain; delete rows with a left-anti join on
    * the id. The resize lifecycle is first-class:
    * build via [[probedIndexBuild]] (stores the sizing manifest), gate
    * ingest on [[requireFreshQuantizer]], retrain + re-assign via
    * [[probedIndexRebuild]] when the corpus leaves the sizing band. */
  def probedIndex(emb: DataFrame, idCol: String, vecCol: String,
                  centroids: Seq[(Int, Array[Float])] = IvfCentroids.cells,
                  probes: Int = 2): DataFrame =
    assignProbed(emb, idCol, vecCol, centroids, probes)

  /** [[probedIndex]] through the two-level assigner — the standing
    * artifact for >[[FlatAssignCeiling]] quantizers, where the flat
    * argmax's n·k cosines stop being the cheap part ((1+coarseProbes)·
    * √k per row instead). Same output contract (id, cell, rank), so
    * the ingest machinery downstream is tier-blind. */
  def probedIndexHier(emb: DataFrame, idCol: String, vecCol: String,
                      centroids: Seq[(Int, Array[Float])],
                      probes: Int = 2, coarseProbes: Int = 2): DataFrame =
    rankProbed(
      Similarity.assignCellsHierarchical(emb, idCol, vecCol, "_id", "_hv",
          probes, centroids, coarseProbes, keepScore = true)
        .select(col("_id"), col("cell"), col("csim")),
      idCol)

  /** Build-time sizing manifest of a standing [[probedIndex]] /
    * [[probedIndexHier]] — what n the frozen centroid count was sized
    * for ([[cellsFor]]), so [[quantizerStale]] can detect a corpus
    * outgrowing its quantizer instead of trusting a scaladoc contract.
    * The [[Dedup.SrpManifest]] of this tier. */
  final case class QuantizerManifest(builtN: Long, k: Int, probes: Int,
                                     targetCellSize: Int)

  /** [[probedIndex]] plus its manifest — the build entry a pipeline
    * persists so ingest can gate on staleness. `k` is taken from the
    * centroid set itself (the thing actually frozen). */
  def probedIndexBuild(emb: DataFrame, idCol: String, vecCol: String,
                       centroids: Seq[(Int, Array[Float])],
                       probes: Int = 2, targetCellSize: Int = 128,
                       knownCount: Option[Long] = None): (DataFrame, QuantizerManifest) = {
    val n = knownCount.getOrElse(emb.select(col(idCol)).count())
    (probedIndex(emb, idCol, vecCol, centroids, probes),
      QuantizerManifest(n, centroids.size, probes, targetCellSize))
  }

  /** The staleness rule for a frozen quantizer: [[cellsFor]] at the
    * CURRENT corpus size has left the power-of-two band around the
    * frozen k. cellsFor is ∝ n (it moves with every arrival, unlike the
    * log₂-quantized SRP rule), so the band IS the hysteresis: inside
    * it, mean cell occupancy stays within 2× of target; past it,
    * per-cell pair work Σ|cell|² ≈ n²/k compounds quadratically — the
    * measured exponent-1.42 drift of the r11 ladder (q_semdedup frozen
    * at 16 cells, corpus at 30×). */
  def quantizerStale(m: QuantizerManifest, currentN: Long): Boolean = {
    val kNow = cellsFor(currentN, m.targetCellSize)
    kNow > 2L * m.k || 2L * kNow < m.k
  }

  /** Loud staleness gate for ingest paths serving a standing probed
    * index — the [[Dedup.requireFreshSrpIndex]] of this tier. */
  def requireFreshQuantizer(m: QuantizerManifest, currentN: Long): Unit =
    if (quantizerStale(m, currentN))
      throw new IllegalStateException(
        s"standing quantizer is STALE: k=${m.k} was sized for " +
          s"n=${m.builtN} (target cell ${m.targetCellSize}), but " +
          s"cellsFor($currentN) = ${cellsFor(currentN, m.targetCellSize)} " +
          "is outside the 2x band — per-cell pair work is compounding; " +
          "run SemDedup.probedIndexRebuild (retrain + re-assign) and " +
          "serve ingest from the rebuilt index")

  /** The gated rebuild: retrain the quantizer at [[cellsFor]] of the
    * CURRENT corpus size and re-assign every standing id — label
    * migration on this tier is exactly that re-assignment (cell labels
    * are quantizer-relative and die with it; survivor identity does
    * NOT change — the corpus is already curated, and a re-quantization
    * cannot invalidate exact-cosine dup edges). `train` supplies the
    * centroid trainer so the deterministic [[Similarity.hashCentroids]]
    * path stays oracle-replayable while production passes
    * [[Similarity.trainCentroids]]/`trainCentroidsHier` (seeded KMeans
    * — spec/ladder-pinned, the q_semdedup precedent). Gated like
    * [[Dedup.srpIndexRebuild]]: refuses a non-stale rebuild unless
    * forced. Returns (new index, new centroids, new manifest) — the
    * caller persists all three. */
  def probedIndexRebuild(emb: DataFrame, idCol: String, vecCol: String,
                         m: QuantizerManifest, currentN: Long,
                         train: Int => Seq[(Int, Array[Float])],
                         force: Boolean = false)
      : (DataFrame, Seq[(Int, Array[Float])], QuantizerManifest) = {
    require(force || quantizerStale(m, currentN),
      s"probedIndexRebuild: quantizer is not stale (k=${m.k} still within " +
        s"the 2x band of cellsFor($currentN, ${m.targetCellSize}) = " +
        s"${cellsFor(currentN, m.targetCellSize)}) — a rebuild would " +
        "retrain + re-assign the corpus for nothing; pass force=true to " +
        "do it anyway")
    val kNew = cellsFor(currentN, m.targetCellSize)
    val centroids = train(kNew)
    require(centroids.size == kNew,
      s"probedIndexRebuild: trainer returned ${centroids.size} centroids, " +
        s"sizing rule wants $kNew")
    val (idx, _) = probedIndexBuild(emb, idCol, vecCol, centroids, m.probes,
      m.targetCellSize, knownCount = Some(currentN))
    (idx, centroids, QuantizerManifest(currentN, kNew, m.probes, m.targetCellSize))
  }

  /** Batch-vs-standing near-dup edges over shared probed cells: the
    * SemDeDup analogue of [[Dedup.lshCandidatesAgainst]]. Both sides'
    * vectors attach per (cell, id) row BEFORE the cell join (the
    * [[edgesOf]] exchange argument), sub-threshold pairs die inside
    * the cosine filter, and only τ-survivors pass the final pair
    * dedup (a pair can share up to probes² cells). */
  private def edgesAgainst(standingEmb: DataFrame, standingCells: DataFrame,
                           batchEmb: DataFrame, batchCells: DataFrame,
                           idCol: String, vecCol: String,
                           threshold: Double): DataFrame = {
    // touched-cell carve-out (lossless: a pair needs a shared cell, so
    // standing rows outside the batch's probed cells can never pair):
    // the standing side's vector attach and exchange carry only the
    // TOUCHED cells' members — for a localized arrival (a crawl shard,
    // one source's drop) that is a few cells' occupancy, not the
    // corpus; the broadcast is the batch's distinct cell set (≤ probes
    // × |batch|, usually far smaller)
    val touched = batchCells.select(col("cell")).distinct()
    val sCells = standingCells.join(touched.hint("broadcast"), Seq("cell"), "left_semi")
    val sv = sCells.join(standingEmb.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col("cell"), col(idCol).as("corpus_id"), col(vecCol).as("_v1"))
    val bv = batchCells.join(batchEmb.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col("cell"), col(idCol).as("new_id"), col(vecCol).as("_v2"))
    sv.join(bv, Seq("cell"))
      .filter(col("corpus_id") =!= col("new_id"))
      .withColumn("cos_sim", Similarity.cosine(col("_v1"), col("_v2")))
      .filter(col("cos_sim") >= threshold)
      .select(col("corpus_id"), col("new_id"), col("cos_sim"))
      .dropDuplicates("corpus_id", "new_id")
  }

  /** Batch-vs-standing semantic near-dup pairs — (corpus_id, new_id,
    * cos_sim), candidates wherever the batch id's probed cells (top-
    * `probes` under the SAME frozen quantizer) intersect the standing
    * probed index. `standingCells` is [[probedIndex]] output (or any
    * (id, cell) frame; extra columns ignored). Ids must be disjoint
    * across sides (the [[Dedup.incrementalComponents]] contract). */
  def dupEdgesAgainst(standingEmb: DataFrame, standingCells: DataFrame,
                      batchEmb: DataFrame, idCol: String, vecCol: String,
                      threshold: Double,
                      centroids: Seq[(Int, Array[Float])] = IvfCentroids.cells,
                      maxCellSize: Option[Int] = None,
                      probes: Int = 2): DataFrame = {
    val bCells = cap(assignProbed(batchEmb, idCol, vecCol, centroids, probes)
      .select(col(idCol), col("cell")), idCol, maxCellSize)
    edgesAgainst(standingEmb,
      cap(standingCells.select(col(idCol), col("cell")), idCol, maxCellSize),
      batchEmb, bCells, idCol, vecCol, threshold)
  }

  /** Ingest-path semantic dedup: the batch rows that survive against a
    * CURATED standing corpus — the entry point the LSH/spans families
    * have ([[Dedup.lshCandidatesAgainst]] / [[Dedup
    * .duplicateSpansAgainst]]) and the semantic tier lacked. A batch id
    * is dropped when it has a ≥-threshold edge to ANY standing id
    * (standing always wins — the corpus is already curated, ingest must
    * never evict it; id order is irrelevant across sides) or to a
    * SMALLER batch id (the min-id rule within the batch, [[dedupProbed]]
    * semantics). Output = surviving batch (id, rank-1 cell). The batch
    * is probed ONCE (Caching-tracked) and serves both edge streams; the
    * standing side is semi-joined to the batch's probed cells before
    * its vector attach — never a corpus re-assignment, so per-batch
    * cost scales with the batch plus the standing MEMBERS OF ITS
    * TOUCHED CELLS (measured: tools/IngestLadder — a cell-localized
    * arrival holds near-flat across corpus scale; a corpus-spread
    * arrival touches every cell and pays those members' attach, still
    * well under the full re-dedup counterfactual). */
  def dedupIngest(standingEmb: DataFrame, standingCells: DataFrame,
                  batchEmb: DataFrame, idCol: String, vecCol: String,
                  threshold: Double,
                  centroids: Seq[(Int, Array[Float])] = IvfCentroids.cells,
                  maxCellSize: Option[Int] = None,
                  probes: Int = 2): DataFrame =
    dedupIngestProbed(standingEmb, standingCells, batchEmb, idCol, vecCol,
      threshold, centroids, maxCellSize, probes)
      .filter(col("rank") === 1).select(col(idCol), col("cell"))

  /** [[dedupIngest]] with the batch assigned through the two-level
    * assigner — the ingest entry for >[[FlatAssignCeiling]] standing
    * indexes (built with [[probedIndexHier]] under the SAME frozen
    * quantizer). Everything after assignment is tier-blind: the cell
    * join, both edge streams, and the survivor rule are identical, so
    * at full coarse fan-out this is bitwise [[dedupIngest]]
    * (spec-pinned). */
  def dedupIngestHier(standingEmb: DataFrame, standingCells: DataFrame,
                      batchEmb: DataFrame, idCol: String, vecCol: String,
                      threshold: Double,
                      centroids: Seq[(Int, Array[Float])],
                      maxCellSize: Option[Int] = None,
                      probes: Int = 2, coarseProbes: Int = 2): DataFrame =
    dedupIngestProbedHier(standingEmb, standingCells, batchEmb, idCol, vecCol,
      threshold, centroids, maxCellSize, probes, coarseProbes)
      .filter(col("rank") === 1).select(col(idCol), col("cell"))

  /** [[dedupIngestProbed]] through the two-level assigner — the
    * survivors' FULL probed rows for a >[[FlatAssignCeiling]] standing
    * index's per-batch append ([[graft.streaming.SemDedupIngest]]'s
    * hier tier). Rank-1 rows ARE [[dedupIngestHier]]'s output (the
    * same filter-commutes-below-the-anti-joins argument, plan-pinned
    * on the flat tier by PlanAuditSpec). */
  def dedupIngestProbedHier(standingEmb: DataFrame, standingCells: DataFrame,
                            batchEmb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double,
                            centroids: Seq[(Int, Array[Float])],
                            maxCellSize: Option[Int] = None,
                            probes: Int = 2, coarseProbes: Int = 2): DataFrame =
    dedupIngestRanked(standingEmb, standingCells, batchEmb,
      probedIndexHier(batchEmb, idCol, vecCol, centroids, probes, coarseProbes),
      idCol, vecCol, threshold, maxCellSize)

  /** Shared ingest body over an already-probed batch (id, cell, rank):
    * batch probed ONCE (Caching-tracked), both edge streams off the
    * same frame, survivor = probed rows minus internal losers minus
    * corpus hits — ALL ranks kept here ([[dedupIngestProbed]]'s
    * contract); [[dedupIngest]] projects rank 1 (the filter commutes
    * with the id-keyed anti-joins and Catalyst pushes it below them,
    * so the single-rank callers' plans are unchanged). */
  private def dedupIngestRanked(standingEmb: DataFrame, standingCells: DataFrame,
                                batchEmb: DataFrame, probedBatch: DataFrame,
                                idCol: String, vecCol: String, threshold: Double,
                                maxCellSize: Option[Int]): DataFrame = {
    val probedB = graft.Caching.persistTracked(probedBatch)
    val bCells = cap(probedB.select(col(idCol), col("cell")), idCol, maxCellSize)
    val internalLosers = edgesProbed(batchEmb, bCells, idCol, vecCol, threshold)
      .select(col("id2").as(idCol)).distinct()
    val corpusHits = edgesAgainst(standingEmb,
        cap(standingCells.select(col(idCol), col("cell")), idCol, maxCellSize),
        batchEmb, bCells, idCol, vecCol, threshold)
      .select(col("new_id").as(idCol)).distinct()
    probedB.select(col(idCol), col("cell"), col("rank"))
      .join(internalLosers, Seq(idCol), "left_anti")
      .join(corpusHits, Seq(idCol), "left_anti")
  }

  /** [[dedupIngest]] returning the survivors' FULL probed rows (id,
    * cell, rank ≤ probes) instead of the rank-1 projection — the rows
    * a standing-index maintainer APPENDS to its [[probedIndex]] store
    * ([[graft.streaming.SemDedupIngest]]'s per-batch fold). The batch
    * was probed once for the dedup itself, so re-assigning survivors
    * for their index rows (|survivors| · k cosines plus another pass
    * over the batch) is pure waste at ingest volume; this exposes the
    * already-computed rows. Rank-1 rows of this output ARE
    * [[dedupIngest]]'s output (spec-pinned). */
  def dedupIngestProbed(standingEmb: DataFrame, standingCells: DataFrame,
                        batchEmb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double,
                        centroids: Seq[(Int, Array[Float])] = IvfCentroids.cells,
                        maxCellSize: Option[Int] = None,
                        probes: Int = 2): DataFrame =
    dedupIngestRanked(standingEmb, standingCells, batchEmb,
      assignProbed(batchEmb, idCol, vecCol, centroids, probes),
      idCol, vecCol, threshold, maxCellSize)

  /** Dup edges: (id1, id2, cell, cos_sim) with id1 < id2, cosine ≥
    * threshold, both ids assigned to `cell`. */
  def dupEdges(emb: DataFrame, idCol: String, vecCol: String,
               threshold: Double,
               centroids: Seq[(Int, Array[Float])] = IvfCentroids.cells,
               maxCellSize: Option[Int] = None): DataFrame =
    edgesOf(emb, cap(assign(emb, idCol, vecCol, centroids), idCol, maxCellSize),
      idCol, vecCol, threshold)

  /** Surviving rows of `emb` after semantic dedup: every id that is the
    * higher end of a ≥-threshold intra-cell pair is dropped. Output is
    * (id, cell) — the kept corpus with its cluster assignment. The
    * assignment is Caching-tracked: BOTH the dup-edge branch and the
    * surviving anti-join consume it, and without the cache each branch
    * re-runs the corpus scan AND the broadcast-cosine argmax (the
    * expensive stage) — the Q15 shared-view lesson. Released by the
    * action runner (Verify/Bench/session), so nothing outlives the
    * query. */
  def dedup(emb: DataFrame, idCol: String, vecCol: String,
            threshold: Double,
            centroids: Seq[(Int, Array[Float])] = IvfCentroids.cells,
            maxCellSize: Option[Int] = None): DataFrame =
    dedupAssigned(emb, assign(emb, idCol, vecCol, centroids),
      idCol, vecCol, threshold, maxCellSize)

  private def dedupAssigned(emb: DataFrame, assignment: DataFrame,
                            idCol: String, vecCol: String, threshold: Double,
                            maxCellSize: Option[Int]): DataFrame = {
    val assigned = graft.Caching.persistTracked(assignment)
    val losers = edgesOf(emb, cap(assigned, idCol, maxCellSize),
      idCol, vecCol, threshold)
      .select(col("id2").as(idCol)).distinct()
    assigned.join(losers, Seq(idCol), "left_anti")
  }

  /** Quantizer sizing rule: cells ∝ corpus, k = ⌈n / targetCellSize⌉ —
    * the [[Similarity.srpPlanesFor]] lesson applied to the KMeans
    * quantizer. A FIXED cell count is an operating point for one corpus
    * size: per-cell pair work is Σ|cell|² ≈ n²/k, so at fixed k the
    * whole operator trends quadratic — the round-11 30× ladder measured
    * exactly that (q_semdedup exponent 1.42, 0.45 s → 55.9 s on the
    * frozen 16-cell quantizer at 60k vectors). Holding |cell| ≈
    * targetCellSize makes pair work n·targetCellSize — linear. */
  def cellsFor(n: Long, targetCellSize: Int = 128): Int = {
    require(n >= 0 && targetCellSize >= 1)
    // no clamp here: the rule reports the honest k and the CALLERS own
    // the flat-assignment ceiling (require(k <= 4096)) — a silent clamp
    // would re-introduce exactly the fixed-k quadratic past the cap
    math.min(Int.MaxValue.toLong, math.max(1L, (n + targetCellSize - 1) / targetCellSize)).toInt
  }

  /** [[dedup]] with the quantizer sized to the corpus by [[cellsFor]]
    * and trained in-path (seeded distributed KMeans, the
    * [[Similarity.ivfTopK]] training posture) — the ingest-path entry
    * point, where "how many cells" should never be the caller's
    * problem. Costs one count() plus the k-means fit; both are noise
    * against the pair join they right-size (measured on the 30×
    * ladder corpus: 55.9 s frozen-16-cells → s-range at k = 469).
    *
    * Tiered by corpus size, ONE entry point end to end: k ≤ 1 all-pairs
    * → k ≤ [[FlatAssignCeiling]] flat assignment + full-corpus Lloyd
    * (brute nearest-centroid is n·k cosines — fine while k is small)
    * → k ≤ [[HierAssignCeiling]] sampled training + two-level
    * assignment ([[dedupHier]], (1+probes)·√k cosines/row) → beyond,
    * the data-independent SRP quantizer ([[dedupSrp]] →
    * [[Dedup.embeddingNearDupsAuto]], assignment n·log n, ladder-
    * measured linear; cell = NULL at that tier — that crossing changes
    * the output shape, so it logs loudly). No tier is a crash.
    *
    * Trained centroids carry KMeans' float-reduction nondeterminism, so
    * this path is spec/ladder-pinned, not oracle-hashed — the
    * registered q_semdedup keeps the frozen [[IvfCentroids]] operating
    * point (the q_embed_neardup precedent). */
  /** Above this k, flat nearest-centroid assignment (n·k cosines) and
    * full-corpus Lloyd stop being the cheap part — [[dedupAuto]]
    * switches to sampled training + the two-level
    * [[Similarity.assignCellsHierarchical]] assigner (per-row cost
    * (1+probes)·√k). */
  val FlatAssignCeiling = 4096

  def dedupAuto(emb: DataFrame, idCol: String, vecCol: String,
                threshold: Double, targetCellSize: Int = 128,
                seed: Long = 42L,
                maxCellSize: Option[Int] = None): DataFrame = {
    val n = emb.select(col(idCol)).count()
    val k = cellsFor(n, targetCellSize)
    if (k > HierAssignCeiling) {
      // ONE ingest entry point for every corpus size (r11 verdict task
      // 3 — this was a require-crash with advice): past the
      // hierarchical assigner's sweet spot, route to the SRP-bucketed
      // candidate generator, whose assignment is n·log n and
      // ladder-measured linear. Loud, because the output contract
      // changes shape (cell = NULL — see [[dedupSrp]]).
      org.slf4j.LoggerFactory.getLogger("graft.operators.SemDedup").info(
        s"dedupAuto: n=$n wants $k cells (> $HierAssignCeiling) — routing to " +
          "the SRP near-dup quantizer (Dedup.embeddingNearDupsAuto); " +
          "survivors carry cell = NULL at this tier")
      dedupSrp(emb, idCol, vecCol, threshold, targetCellSize, maxCellSize,
        knownCount = Some(n))
    }
    else if (k <= 1)
      // n ≤ targetCellSize: one cell IS the whole corpus — no quantizer
      // (a synthetic single centroid would put a zero/NaN cosine in the
      // argmax for nothing)
      dedupAssigned(emb, emb.select(col(idCol), lit(0).as("cell")),
        idCol, vecCol, threshold, maxCellSize)
    else if (k <= FlatAssignCeiling)
      // probes = 2: the boundary-pair candidate rule is the tier
      // default (r13 seam measurement: within-cell-only recall 0.915 at
      // operating scale, the one measured quality gap — recovered here)
      dedupProbed(emb, idCol, vecCol, threshold,
        Similarity.trainCentroids(emb, vecCol, k, seed), maxCellSize)
    else {
      // past the flat ceiling: (a) train on a bounded sample (the faiss
      // max-points-per-centroid discipline; 64·k keeps every cell ~64
      // training points) — and train TWO-LEVEL: even sampled, a flat
      // Lloyd is 64k·k ≈ Θ(k²) distances per round, which the r12
      // HierLadder measured dominating this tier end-to-end;
      // trainCentroidsHier brings training to Θ(k^1.5), distributed.
      // (b) assign two-level. Cell sizes still target `targetCellSize`,
      // so the pair join stays linear.
      val frac = math.min(1.0, 64.0 * k / n.toDouble)
      val trainDf = if (frac >= 1.0) emb else emb.sample(frac, seed)
      dedupHier(emb, idCol, vecCol, threshold,
        Similarity.trainCentroidsHier(trainDf, vecCol, k, seed), maxCellSize)
    }
  }

  /** Above this k, even the two-level assigner's (1+probes)·√k cosines
    * per row stop being cheap — [[dedupAuto]] routes to [[dedupSrp]].
    *
    * This is the bound on the tier's inherent n·√k law: with
    * `cellsFor` keeping k ∝ n, assignment totals ~3√k distance evals
    * per vector = locally n^1.5 (MEASURED: exp 1.33 between 2M and 4M
    * vectors, 2.52× wall vs the law's 2.83× — SCALE.md r13 cont. 2).
    * The ceiling caps it at √65536 = 256 (≤ ~768 evals/vector,
    * shuffle-free and embarrassingly parallel), and the SRP tier past
    * it is n·const hyperplane dots — the dispatch exists exactly to
    * stop the n^1.5 compounding, and the measured seam recall (SRP
    * 1.000 at τ = 0.8) says crossing costs nothing at operating
    * thresholds. */
  val HierAssignCeiling = 65536

  /** The SRP tier of [[dedupAuto]]: dup edges from the data-independent
    * SRP-LSH candidate generator ([[Dedup.embeddingNearDupsAuto]] —
    * plane count sized by the same ∝-corpus rule as [[cellsFor]]),
    * then the identical exact-cosine filter and min-id survivor rule.
    * The cosine-τ mapping is IDENTITY: embeddingNearDups already
    * filters candidates by exact cosine ≥ τ, so only the candidate
    * GENERATOR changes across the tiers (quantizer cells vs SRP
    * buckets — both approximate, both recall-bounded by their bucket
    * caps). `targetCellSize` maps to the SRP target bucket size and
    * `maxCellSize` to the bucket cap: the same knobs, same meaning.
    *
    * Output contract: (id, cell) like every tier, but cell is NULL —
    * there IS no quantizer cell here, and an invented surrogate (an
    * SRP bucket id) would silently mean something different to a
    * caller grouping by it. Honest NULL + the dispatch log line. */
  private[graft] def dedupSrp(emb: DataFrame, idCol: String, vecCol: String,
                              threshold: Double, targetCellSize: Int,
                              maxCellSize: Option[Int],
                              knownCount: Option[Long] = None): DataFrame = {
    // dim learned from the data (one 1-row action): dedupAuto's
    // signature has no dim, and the SRP hyperplane family needs it.
    // knownCount rides through so the tier dispatch's count() is not
    // re-run as a full corpus scan inside embeddingNearDupsAuto.
    val dim = emb.select(org.apache.spark.sql.functions.size(col(vecCol)).as("d"))
      .head().getInt(0)
    val losers = Dedup.embeddingNearDupsAuto(emb, idCol, vecCol, dim,
        threshold, targetBucketSize = targetCellSize,
        maxBucketSize = maxCellSize, knownCount = knownCount)
      .select(col("id2").as(idCol)).distinct()
    emb.select(col(idCol), lit(null).cast("int").as("cell"))
      .join(losers, Seq(idCol), "left_anti")
  }

  /** [[dedup]] on the two-level assigner — the >FlatAssignCeiling tier
    * of [[dedupAuto]] as a directly callable operator: same survivor
    * rule, but assignment goes through
    * [[Similarity.assignCellsHierarchical]] ((1+coarseProbes)·√k
    * cosines per row instead of k). `fineProbes = 2` (the default, as
    * in [[dedupProbed]]) generates candidates across each id's top-2
    * fine cells — the boundary-pair recovery rule; `fineProbes = 1` is
    * the literal within-cell recipe. Callable with ANY centroid set;
    * with the deterministic [[Similarity.hashCentroids]] quantizer the
    * whole operator — coarsen's driver Lloyd included — is
    * oracle-replayable, which is how q_semdedup_hier hash-gates this
    * path (dedupAuto's trained-centroid entry stays spec/ladder-pinned,
    * the q_semdedup precedent). */
  def dedupHier(emb: DataFrame, idCol: String, vecCol: String,
                threshold: Double, centroids: Seq[(Int, Array[Float])],
                maxCellSize: Option[Int] = None,
                coarseProbes: Int = 2,
                fineProbes: Int = 2): DataFrame =
    if (fineProbes <= 1)
      dedupAssigned(emb,
        Similarity.assignCellsHierarchical(emb, idCol, vecCol,
            idCol, "_hv", probes = 1, centroids, coarseProbes)
          .select(col(idCol), col("cell")),
        idCol, vecCol, threshold, maxCellSize)
    else
      dedupRanked(emb,
        rankProbed(
          Similarity.assignCellsHierarchical(emb, idCol, vecCol,
              "_id", "_hv", probes = fineProbes, centroids, coarseProbes,
              keepScore = true)
            .select(col("_id"), col("cell"), col("csim")),
          idCol),
        idCol, vecCol, threshold, maxCellSize)
}
