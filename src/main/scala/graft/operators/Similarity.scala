package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (ARRAY<FLOAT>), expressed entirely in Catalyst expressions — the
  * dot products run in codegen'd native kernels (DotProduct,
  * CosineSimilarity, SrpCode) — no UDF, no collect.
  *
  * Two paths:
  *  - brute-force: broadcast the (small) query set against the corpus,
  *    exact cosine, per-query top-k via window rank. O(|Q|·|corpus|) —
  *    the correctness baseline, and the right plan whenever |Q| is small.
  *  - LSH (random hyperplane / SRP): bucket corpus and queries by the
  *    sign pattern of `planes` fixed random projections, join on bucket,
  *    exact cosine only within buckets. Sub-linear candidate set at
  *    100 TB; recall tunes with planes/probes.
  */
object Similarity {

  /** Double-precision dot product of two float/double array columns:
    * the codegen'd [[graft.functions.DotProduct]] kernel (sequential
    * fold — deterministic, engine-independent evaluation order). */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Composable-HOF dot product — reference semantics; interpreted
    * (no codegen), an intermediate array per row. Kept for the
    * native==HOF equality pin, same pattern as cosineHof. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Composable-HOF cosine — reference semantics; three vector walks +
    * an intermediate array per row. Kept for the native==HOF equality pin. */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** Native fused-loop cosine (custom codegen'd Expression) — same fold
    * order, bit-identical results, no per-row allocation. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Exact top-k cosine neighbors for each query vector.
    * @param corpus  (idCol, vecCol) rows
    * @param queries subset of the same shape; must be broadcast-sized
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosine(col("qvec"), col("cvec")))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    TopK.perGroupNativeRanked(scored, Seq("query_id"), "cos_sim",
      Seq("neighbor_id"), k, rankName = "rank")
  }

  /** Fixed-seed random hyperplanes for signed-random-projection LSH
    * (tables × planes of them — one independent bucket code per table).
    * `private[graft]` so the oracle SQL can interpolate the SAME
    * constants into DuckDB literal lists (the SigList technique) —
    * determinism of the seeded stream is what makes SRP bucketing
    * cross-engine replayable. */
  private[graft] def hyperplanes(dim: Int, planes: Int, tables: Int): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(tables, planes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Fixed-seed dense projection matrix (outDim × dim rows of unit
    * gaussians); seed disjoint from [[hyperplanes]]' stream so SRP codes
    * and dense projections are independent. `private[graft]` so the
    * oracle SQL interpolates the SAME constants (SigList technique). */
  private[graft] def projectionMatrix(dim: Int, outDim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(4242)
    Array.fill(outDim)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Johnson–Lindenstrauss dense random projection: each embedding
    * reduced to `outDim` doubles (columns p0..p{outDim-1}) against
    * frozen gaussian rows — the distance-preserving dimensionality cut
    * a training pipeline runs before clustering/indexing when the full
    * width is too wide to shuffle. Pure narrow projection (zero
    * exchanges) over the codegen'd [[graft.functions.DotProduct]]
    * kernel; frozen constants make it generator-replayable (DuckDB's
    * list_dot_product folds the identical double sequence). Unscaled:
    * the 1/√outDim JL factor is a constant the consumer folds in where
    * distances need calibration. */
  def projectEmbeddings(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, outDim: Int): DataFrame = {
    val m = projectionMatrix(dim, outDim)
    val cols = (0 until outDim).map { j =>
      graft.functions.DotProduct(col(vecCol), array(m(j).map(lit): _*)).as(s"p$j")
    }
    df.select(col(idCol) +: cols: _*)
  }

  /** Per-table SRP bucket ids for a vector column: ARRAY<LONG>[tables],
    * one `planes`-bit sign code per table. Runs the fused codegen'd
    * [[graft.functions.SrpCode]] — bit-identical to the HOF formulation
    * below (SrpSpec pins equality), so bucket assignments are unchanged. */
  def srpBuckets(vec: Column, dim: Int, planes: Int, tables: Int): Column = {
    val hp = hyperplanes(dim, planes, tables)
    val flat = new Array[Double](tables * planes * dim)
    for (t <- 0 until tables; p <- 0 until planes; i <- 0 until dim)
      flat((t * planes + p) * dim + i) = hp(t)(p)(i)
    graft.functions.SrpCode(vec, flat, dim, planes, tables)
  }

  /** Composable-HOF SRP coder — tables × planes separate aggregate()
    * folds; interpreted (no codegen) and allocation-heavy. Kept for the
    * native==HOF equality pin, same pattern as cosineHof. */
  def srpBucketsHof(vec: Column, dim: Int, planes: Int, tables: Int): Column = {
    val hp = hyperplanes(dim, planes, tables)
    array((0 until tables).map { t =>
      (0 until planes).map { p =>
        val plane = array(hp(t)(p).map(lit): _*)
        when(dotHof(vec, plane) >= 0.0, lit(1L << p)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    }: _*)
  }

  /** ANN via IVF (inverted-file index): a KMeans coarse quantizer
    * partitions the corpus into `nlist` cells; each query probes its
    * `nprobe` nearest cells and scores exact cosine only there.
    *
    * Plan shape at 100 TB: training samples the corpus (MLlib KMeans is
    * distributed); assignment is a crossJoin against `nlist` broadcast
    * centroids (constant-sized build side) + rank-1 window; the search
    * join is keyed on cell id — candidates ≈ corpus·nprobe/nlist per
    * query. Centroid low bits can vary across cluster topologies (float
    * reduction order in KMeans), so the end-to-end TRAINING path cannot
    * be oracle-hashed; recall vs brute force is pinned in
    * SimilaritySpec. The serving path ([[ivfTopKFrozen]]) freezes the
    * trained centroids as constants and IS oracle-verified (q_ann_ivf).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
              seed: Long = 42L): DataFrame =
    ivfSearch(corpus, queries, idCol, vecCol, k, nprobe,
      trainCentroids(corpus, vecCol, nlist, seed))

  /** The ONE KMeans quantizer-training site (shared with
    * [[SemDedup.dedupAuto]] — a forked copy would let the training
    * posture silently drift between the ANN and dedup paths): seeded
    * distributed fit, centroids as float arrays so the codegen'd
    * CosineSimilarity getFloat path applies. */
  private[graft] def trainCentroids(df: DataFrame, vecCol: String,
                                        k: Int, seed: Long): Seq[(Int, Array[Float])] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // Spark ML's KMeans rejects k = 1 ("Must be > 1")
    require(k >= 2, s"trainCentroids needs k >= 2, got $k")
    val train = df.select(array_to_vector(col(vecCol)).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(5).fit(train)
    model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat))
    }.toSeq
  }

  /** Two-level quantizer TRAINING for large k — the complement of
    * [[assignCellsHierarchical]]: with k ∝ corpus (the [[SemDedup.cellsFor]]
    * rule) and the training sample bounded at 64·k points (the faiss
    * max-points-per-centroid discipline), a FLAT sampled Lloyd still
    * costs 64k·k ≈ Θ(k²) distance evaluations per round — the training
    * stage itself becomes the quadratic term of the >4096-cell tier
    * (measured by HierLadder r12: it dominates end-to-end wall there).
    * Two-level training brings it to Θ(k^1.5), distributed:
    *
    *   1. coarse: ⌈√k⌉ group centroids via [[trainCentroids]] on a
    *      64·√k-point sub-sample (cost ≈ 64k — trivial);
    *   2. partition: assign the full training sample to its nearest
    *      coarse group ([[assignCells]], broadcast — 64k·√k cosines);
    *   3. fine: each group trains its PROPORTIONAL share of the k fine
    *      centroids locally inside one `mapGroups` pass (seeded local
    *      Lloyd, cosine metric, means recomputed from originals each
    *      round) — Σ_j (points_j · k_j) ≈ 64√k·√k per group × √k
    *      groups ≈ 64k^1.5 total, spread across the cluster.
    *
    * Proportional allocation (largest-remainder, floor 1 for non-empty
    * groups, capped at the group's point count) keeps expected cell
    * occupancy uniform, so [[SemDedup]]'s per-cell pair bound carries
    * over. Returns exactly k cells (ids 0..k−1) unless the sample has
    * fewer than k points (loud require — the big-k callers always
    * sample ≥ 64 points per centroid). Same nondeterminism class as
    * [[trainCentroids]] (KMeans float reductions + partition-order
    * group iteration), so this path is spec/ladder-pinned, never
    * oracle-hashed. */
  private[graft] def trainCentroidsHier(df: DataFrame, vecCol: String,
                                        k: Int, seed: Long): Seq[(Int, Array[Float])] = {
    require(k >= 2, s"trainCentroidsHier needs k >= 2, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val g = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val sample = graft.Caching.persistTracked(
      df.select(col(vecCol).as("_v")))
    val nSample = sample.count()
    require(nSample >= k,
      s"trainCentroidsHier: sample has $nSample points for $k centroids — " +
        "pass a training frame with at least k (ideally 64·k) points")
    val coarseFrac = math.min(1.0, 64.0 * g / nSample.toDouble)
    val coarseDf = if (coarseFrac >= 1.0) sample else sample.sample(coarseFrac, seed)
    val coarse = trainCentroids(coarseDf, "_v", g, seed)

    val assigned = graft.Caching.persistTracked(
      assignCells(sample.withColumn("_tid", monotonically_increasing_id()),
          "_tid", "_v", "_tid", "_v", probes = 1, coarse)
        .select(col("cell").as("_grp"), col("_v")))
    val counts: Map[Int, Long] = assigned.groupBy(col("_grp")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    val allocB = allocateFineCentroids(counts, k, nSample)
    val offsets: Map[Int, Int] = {
      var off = 0
      allocB.toSeq.sortBy(_._1).map { case (j, kj) =>
        val o = off; off += kj; j -> o }.toMap
    }

    val fine = assigned.as[(Int, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (j, it) =>
        val kj = allocB(j)
        // per-TASK memory bound (r12 verdict): the split across groups
        // follows the coarse assignment, so a degenerate coarse
        // quantizer (or a caller passing an unsampled frame) can land
        // far more than 64·k_j points in ONE group — stride-subsample
        // inside the iterator before materializing; localLloyd needs no
        // more than the max-points-per-centroid share. counts(j) is
        // already on the driver, so the stride is known up front and
        // the kept set stays spread across the group, not a prefix.
        val pts = strideSample(it.map(_._2), counts(j), 64 * kj)
        localLloyd(pts, kj).zipWithIndex.map { case (c, i) =>
          (offsets(j) + i, c)
        }.iterator
      }
      .collect()
    fine.sortBy(_._1).toSeq
  }

  /** Keep ≤ `cap` elements of an iterator of known length `n`, evenly
    * strided (ceil(n/cap) step — deterministic in iteration order,
    * pass-through when n ≤ cap), without ever materializing more than
    * `cap` elements. The [[trainCentroidsHier]] per-group bound. */
  private[graft] def strideSample(it: Iterator[Array[Float]], n: Long,
                                  cap: Int): Array[Array[Float]] = {
    require(cap >= 1, s"strideSample cap must be >= 1, got $cap")
    if (n <= cap) it.toArray
    else {
      val step = (n + cap - 1) / cap
      val buf = new scala.collection.mutable.ArrayBuffer[Array[Float]](cap)
      var i = 0L
      while (it.hasNext) {
        val v = it.next()
        if (i % step == 0 && buf.length < cap) buf += v
        i += 1
      }
      buf.toArray
    }
  }

  /** Largest-remainder proportional allocation of the k fine centroids
    * over the coarse groups: floor 1 for non-empty groups, capped at
    * the group's point count, positive remainder distributed ONE per
    * eligible group per cycle in remainder-desc order (grp-id
    * tie-break) — a find() that restarted from the front each time
    * would dump the whole remainder into the first group with spare
    * capacity and skew cell occupancy, the r12 review catch. Removals
    * peel one at a time from the largest allocations. Exposed
    * private[graft] so the spec pins uniformity directly. */
  private[graft] def allocateFineCentroids(counts: Map[Int, Long], k: Int,
                                           nSample: Long): Map[Int, Int] = {
    val exact = counts.toSeq.sortBy(_._1)
      .map { case (j, nj) => (j, nj, k.toDouble * nj / nSample) }
    val alloc = scala.collection.mutable.LinkedHashMap(
      exact.map { case (j, nj, e) =>
        j -> math.min(nj, math.max(1L, e.toLong)).toInt }: _*)
    var delta = k - alloc.values.sum
    val byRem = exact.sortBy { case (j, _, e) => (-(e - e.toLong), j) }.map(_._1)
    var cursor = 0
    var sinceProgress = 0
    while (delta > 0) {
      val j = byRem(cursor % byRem.size)
      if (alloc(j) < counts(j)) {
        alloc(j) = alloc(j) + 1; delta -= 1; sinceProgress = 0
      } else {
        sinceProgress += 1
        if (sinceProgress >= byRem.size) throw new IllegalStateException(
          "trainCentroidsHier: sample cannot host k centroids")
      }
      cursor += 1
    }
    while (delta < 0) {
      val cand = alloc.maxBy { case (j, a) => (a, j) }._1
      require(alloc(cand) > 1, "trainCentroidsHier: allocation underflow")
      alloc(cand) = alloc(cand) - 1; delta += 1
    }
    require(alloc.values.sum == k, "trainCentroidsHier: allocation did not converge")
    alloc.toMap
  }

  /** Deterministic-in-input-order local Lloyd (cosine metric) used for
    * the per-group fine step of [[trainCentroidsHier]]: seeds = evenly
    * spaced points, fixed 8 rounds, means recomputed from the ORIGINAL
    * points every round (never chained), empty clusters keep their
    * previous mean — the same discipline as [[coarsen]]'s driver loop,
    * but over points instead of centroids. */
  private def localLloyd(pts: Array[Array[Float]], k: Int): Array[Array[Float]] = {
    val n = pts.length
    if (n == 0) return Array.empty
    val kk = math.min(k, n)
    val dim = pts(0).length
    def cos(a: Array[Double], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) -2.0 else dot / math.sqrt(na) / math.sqrt(nb)
    }
    val means: Array[Array[Double]] =
      Array.tabulate(kk)(j => pts(math.min(n - 1, j * n / kk)).map(_.toDouble))
    val assign = new Array[Int](n)
    for (_ <- 1 to 8) {
      var i = 0
      while (i < n) {
        var best = 0; var bestS = Double.NegativeInfinity; var j = 0
        while (j < kk) {
          val sv = cos(means(j), pts(i))
          if (sv > bestS) { bestS = sv; best = j }
          j += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(kk, dim)(0.0); val cnt = new Array[Int](kk)
      i = 0
      while (i < n) {
        val j = assign(i); cnt(j) += 1
        var d = 0
        while (d < dim) { sums(j)(d) += pts(i)(d); d += 1 }
        i += 1
      }
      var j = 0
      while (j < kk) {
        if (cnt(j) > 0) {
          var d = 0
          while (d < dim) { means(j)(d) = sums(j)(d) / cnt(j); d += 1 }
        }
        j += 1
      }
    }
    means.map(_.map(_.toFloat))
  }

  /** [[ivfTopK]] with `nlist` sized to the corpus by
    * [[SemDedup.cellsFor]] (cells ∝ n, occupancy ≈ targetCellSize) —
    * the sizing-rule discipline applied to the ANN index: at FIXED
    * nlist, per-query probe cost is corpus·nprobe/nlist and grows
    * linearly with the corpus; holding occupancy constant keeps
    * per-query cost ≈ nprobe·targetCellSize. Same honest asymptote as
    * [[SemDedup.dedupAuto]]: flat nearest-centroid assignment is n·k
    * cosines, so past the flat ceiling the quantizer goes hierarchical
    * (r12): sampled two-level TRAINING ([[trainCentroidsHier]], Θ(k^1.5))
    * plus two-level ASSIGNMENT ([[assignCellsHierarchical]],
    * (1+coarseProbes)·√k cosines per row) — the same tier structure as
    * [[SemDedup.dedupAuto]], serving the ANN index up to ~8.4M vectors
    * at the default target. Beyond [[SemDedup.HierAssignCeiling]] the
    * right index family changes (SRP [[lshTopK]] — data-independent,
    * n·log n assignment), so the require stays loud there. Trained
    * centroids are KMeans-nondeterministic in the low bits, so this
    * path is spec-pinned; frozen-constant serving stays
    * [[ivfTopKFrozen]]. */
  def ivfTopKAuto(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, nprobe: Int = 4,
                  targetCellSize: Int = 128, seed: Long = 42L): DataFrame = {
    val n = corpus.select(col(idCol)).count()
    require(n >= 1, "ivfTopKAuto needs a non-empty corpus to size and train on")
    val nlist = SemDedup.cellsFor(n, targetCellSize)
    require(nlist <= SemDedup.HierAssignCeiling,
      s"cellsFor chose $nlist cells at n=$n — past even the hierarchical " +
        "assigner's sweet spot (~8.4M vectors at the default target); use " +
        "the SRP index (Similarity.lshTopK with srpPlanesFor) at that scale")
    if (nlist <= 1)
      // n ≤ target: one cell IS the corpus — no quantizer (KMeans
      // rejects k=1), and probing everything is exact brute force
      bruteForceTopK(corpus, queries, idCol, vecCol, k)
    else if (nlist <= SemDedup.FlatAssignCeiling)
      ivfTopK(corpus, queries, idCol, vecCol, k, nlist = nlist,
        nprobe = nprobe, seed = seed)
    else {
      // the faiss max-points-per-centroid sampling discipline, then the
      // two-level train + assign pair (see SemDedup.dedupAuto's big-k
      // branch for the cost argument)
      val frac = math.min(1.0, 64.0 * nlist / n.toDouble)
      val trainDf = if (frac >= 1.0) corpus else corpus.sample(frac, seed)
      ivfSearch(corpus, queries, idCol, vecCol, k, nprobe,
        trainCentroidsHier(trainDf, vecCol, nlist, seed), hier = true)
    }
  }

  /** IVF search against a FROZEN quantizer — the production "train once,
    * serve many" posture: the coarse centroids are checked-in constants
    * ([[IvfCentroids]]), so cell assignment and search are exactly
    * replayable (and DuckDB-oracle-verified; KMeans *training* is the
    * only nondeterministic stage and it is out of the serving path). */
  def ivfTopKFrozen(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nprobe: Int = 4,
                    centroids: Seq[(Int, Array[Float])] = IvfCentroids.cells): DataFrame =
    ivfSearch(corpus, queries, idCol, vecCol, k, nprobe, centroids)

  /** [[ivfTopKFrozen]] through the TWO-LEVEL assigner — the frozen
    * serving posture of [[ivfTopKAuto]]'s >FlatAssignCeiling branch:
    * both corpus and query sides route [[assignCellsHierarchical]]
    * (coarse ⌈√k⌉-group probe, then fine ranking only inside the probed
    * groups), so per-row assignment is (1+coarseProbes)·√k cosines
    * instead of k. With a deterministic quantizer ([[hashCentroids]])
    * the whole serving path is oracle-replayable — q_ann_ivf_hier runs
    * it at k = 4100 > FlatAssignCeiling, the dedup-side q_semdedup_hier
    * recipe applied to ANN serving. Approximate in the same sense as
    * the auto path: a neighbor whose fine cell lies outside the query's
    * probed coarse groups is unreachable; nprobe and coarseProbes are
    * the recall levers. */
  def ivfTopKFrozenHier(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int, nprobe: Int = 4,
                        centroids: Seq[(Int, Array[Float])]): DataFrame =
    ivfSearch(corpus, queries, idCol, vecCol, k, nprobe, centroids, hier = true)

  /** SRP plane count for a corpus of `n` vectors: the smallest p with
    * expected bucket occupancy n/2^p at or under `targetBucketSize`.
    * THE sizing rule that keeps banded-SRP candidate generation linear:
    * per-bucket pair work is occupancy², so at FIXED planes it grows
    * with n² — the round-10 scale ladder measured exactly that (the
    * 2k-vector operating point planes=4 ran quadratic at 10× corpus:
    * exponent 2.28, 396 s; retuned by this rule it returns to ~linear).
    * Growing p with log₂(n) holds occupancy — and so per-bucket work —
    * constant, at the usual LSH recall trade: with 16 tables, true
    * near-dup pairs (cosine ≥ 0.9) keep ≳99% collision probability at
    * p = 8, while the low-cosine tail thins (collision ∝ (1−θ/π)^p per
    * table). Frozen-constant oracles interpolate a FIXED p, so
    * registered queries pin their corpus's operating point; this rule
    * is for the ingest path, where the corpus size is known. */
  def srpPlanesFor(n: Long, targetBucketSize: Int = 128): Int = {
    require(n >= 0 && targetBucketSize >= 1)
    var p = 1
    while ((n >> p) > targetBucketSize && p < 62) p += 1
    p
  }

  /** Recall@k of an approximate top-k result against the exact one —
    * the evaluation every ANN deployment runs before choosing its
    * operating point (nprobe, planes, codebook size). Inputs are two
    * (query_id, neighbor_id, …) frames as produced by
    * [[bruteForceTopK]] / [[ivfTopKFrozen]] / [[lshTopK]]; `queries`
    * is the query frame itself, so queries the approximate index missed
    * ENTIRELY still appear with recall 0 (a groupBy over hits alone
    * would silently drop them — the one failure mode an eval harness
    * must not have). One left-semi join + one keyed count + one left
    * join; recall is the single IEEE division n_hits/k.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, queries: DataFrame,
                idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("_c"))
    queries.select(col(idCol).as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("_c"), lit(0L)).as("n_hits"),
        (coalesce(col("_c"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall_at_k"))
  }

  /** Coarse-quantizer cell assignment (top-`probes` cells by cosine,
    * cell-id tie-break — the q_ann_ivf rule): (outId, outVec, cell),
    * one row per probed cell. Shared by [[ivfSearch]] and the IVFADC
    * composition in [[Pq.ivfAdcTopK]]. */
  private[graft] def assignCells(df: DataFrame, idCol: String, vecCol: String,
                                 outId: String, outVec: String, probes: Int,
                                 centroids: Seq[(Int, Array[Float])]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cdf = broadcast(centroids.toDF("cell", "center"))
    val scored = df.select(col(idCol).as(outId), col(vecCol).as(outVec))
      .crossJoin(cdf)
      .withColumn("csim", cosine(col(outVec), col("center")))
    // localGroups: the group key is the STREAM side's unique row id and
    // the join side is broadcast — rows per key are contiguous in one
    // partition, so the heap runs exchange-free in a single pass
    TopK.perGroupNative(scored, Seq(outId), "csim", Seq("cell"), probes,
        localGroups = true)
      .select(col(outId), col(outVec), col("cell"))
  }

  /** Deterministic hash-derived quantizer: centroid c's component d is
    * `((portable_hash60("tag:c:d") % 256) − 127.5) / 128` ∈ (−1, 1).
    * Two properties make it the ORACLE-GATE quantizer for the
    * hierarchical assignment tier (trained k-means centroids carry
    * float-reduction nondeterminism, and freezing >4096 cells × dim
    * floats as source constants is not viable):
    *
    *  - cross-engine exact: the hash is the md5-derived portable
    *    family ([[graft.functions.PortableHash60]]), so DuckDB rebuilds
    *    the identical centroids from `md5()` + integer arithmetic;
    *  - every component is a DYADIC rational (odd multiple of 2⁻⁸,
    *    |x| < 1, never 0), so float32 storage is exact AND any sum of
    *    ≤2¹² of them is exactly representable in double — which makes
    *    [[coarsen]]'s Lloyd means ORDER-INDEPENDENT exact (means are
    *    recomputed from these originals every round, never chained),
    *    so a plain SQL `sum()` replays the driver loop bit for bit.
    *
    * Also a serviceable data-independent quantizer in its own right
    * (random vertices of a scaled hypercube — the SRP idea without the
    * sign collapse), but the trained path wins on recall; use this
    * where verifiability or data-independence is the requirement. */
  def hashCentroids(k: Int, dim: Int, tag: String = "hc"): Seq[(Int, Array[Float])] = {
    require(k >= 1 && dim >= 1, s"need k >= 1, dim >= 1, got k=$k dim=$dim")
    import org.apache.spark.unsafe.types.UTF8String
    (0 until k).map { c =>
      (c, Array.tabulate(dim) { d =>
        val h = graft.functions.PortableHash60.hash(
          UTF8String.fromString(s"$tag:$c:$d"))
        (((h % 256).toDouble - 127.5) / 128.0).toFloat
      })
    }
  }

  /** Group the k fine centroids into ⌈√k⌉ coarse groups — a driver-side
    * Lloyd over k rows (k ≤ 10⁵ → trivial local compute, deterministic:
    * spread seeding over cell-id order, fixed 8 rounds, cosine metric,
    * empty groups keep their previous mean). Returns the coarse
    * centroids and the cell → group map. */
  private[graft] def coarsen(centroids: Seq[(Int, Array[Float])])
      : (Seq[(Int, Array[Float])], Map[Int, Int]) = {
    val cells = centroids.sortBy(_._1).toIndexedSeq
    val k = cells.size
    val g = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val dim = cells.head._2.length
    def cos(a: Array[Double], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) -2.0 else dot / math.sqrt(na) / math.sqrt(nb)
    }
    val means: Array[Array[Double]] =
      Array.tabulate(g)(j => cells(math.min(k - 1, j * k / g))._2.map(_.toDouble))
    val assign = new Array[Int](k)
    for (_ <- 1 to 8) {
      var i = 0
      while (i < k) {
        var best = 0; var bestS = Double.NegativeInfinity; var j = 0
        while (j < g) {
          val sv = cos(means(j), cells(i)._2)
          if (sv > bestS) { bestS = sv; best = j }
          j += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(g, dim)(0.0); val cnt = new Array[Int](g)
      i = 0
      while (i < k) {
        val j = assign(i); cnt(j) += 1
        var d = 0
        while (d < dim) { sums(j)(d) += cells(i)._2(d); d += 1 }
        i += 1
      }
      var j = 0
      while (j < g) {
        if (cnt(j) > 0) {
          var d = 0
          while (d < dim) { means(j)(d) = sums(j)(d) / cnt(j); d += 1 }
        }
        j += 1
      }
    }
    (means.zipWithIndex.map { case (m, j) => (j, m.map(_.toFloat)) }.toSeq,
      cells.indices.map(i => cells(i)._1 -> assign(i)).toMap)
  }

  /** Two-level cell assignment for LARGE quantizers — the path past the
    * flat assigner's n·k cosine wall: probe the top-`coarseProbes` of
    * ⌈√k⌉ coarse groups ([[coarsen]]), then rank only those groups'
    * fine centroids. Cost per row ≈ (1 + coarseProbes)·√k cosines
    * instead of k — measured on the 30× ladder corpus at k = 3750
    * (60k vectors, target 16): 4.39 s flat → 1.39 s hierarchical
    * (~20× fewer cosines; wall clock 3.2× with scan/heap overhead).
    * APPROXIMATE by design (the standard multi-level-IVF
    * trade): a row whose true nearest fine centroid lives outside its
    * probed coarse groups lands in its best PROBED cell — raising
    * `coarseProbes` trades cost back for exactness, and probing EVERY
    * group reproduces the flat assignment exactly (spec-pinned; at
    * 2-of-4 probes on RANDOM embeddings — the least routable input —
    * agreement is ~0.77, and clustered corpora route far better).
    * Same output contract and both-heaps-exchange-free plan shape as
    * [[assignCells]] (contiguity survives the broadcast fine join). */
  private[graft] def assignCellsHierarchical(
      df: DataFrame, idCol: String, vecCol: String,
      outId: String, outVec: String, probes: Int,
      centroids: Seq[(Int, Array[Float])],
      coarseProbes: Int = 2,
      keepScore: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(coarseProbes >= 1, s"coarseProbes must be >= 1, got $coarseProbes")
    val (coarse, cellToGroup) = coarsen(centroids)
    val cdf = broadcast(coarse.toDF("grp", "gcenter"))
    val probedCoarse = TopK.perGroupNative(
        df.select(col(idCol).as(outId), col(vecCol).as(outVec))
          .crossJoin(cdf)
          .withColumn("gsim", cosine(col(outVec), col("gcenter"))),
        Seq(outId), "gsim", Seq("grp"), coarseProbes, localGroups = true)
      .select(col(outId), col(outVec), col("grp"))
    val fdf = broadcast(centroids.map { case (c, arr) => (cellToGroup(c), c, arr) }
      .toDF("grp", "cell", "center"))
    val top = TopK.perGroupNative(
        probedCoarse.join(fdf, Seq("grp"))
          .withColumn("csim", cosine(col(outVec), col("center"))),
        Seq(outId), "csim", Seq("cell"), probes, localGroups = true)
    // keepScore: callers that need to RANK the probed cells afterwards
    // (SemDedup's boundary-pair candidate stream) get the heap's own
    // order column; the default output contract stays byte-identical
    if (keepScore) top.select(col(outId), col(outVec), col("cell"), col("csim"))
    else top.select(col(outId), col(outVec), col("cell"))
  }

  private def ivfSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int, nprobe: Int,
                        centroids: Seq[(Int, Array[Float])],
                        hier: Boolean = false): DataFrame = {
    // hier: both sides assign through the two-level path — same output
    // contract as assignCells, (1+coarseProbes)·√k cosines per row
    def assignFn(df: DataFrame, outId: String, outVec: String, probes: Int) =
      if (hier) assignCellsHierarchical(df, idCol, vecCol, outId, outVec, probes, centroids)
      else assignCells(df, idCol, vecCol, outId, outVec, probes, centroids)
    val c = assignFn(corpus, "neighbor_id", "cvec", 1)
    val q = assignFn(queries, "query_id", "qvec", nprobe)
    val scored = c.join(q.hint("broadcast"), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos_sim", cosine(col("qvec"), col("cvec")))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    TopK.perGroupNativeRanked(scored, Seq("query_id"), "cos_sim",
      Seq("neighbor_id"), k, rankName = "rank")
  }

  /** Scalar int8 quantization of an embedding column — the standard
    * 4× storage/bandwidth cut before ANN serving: symmetric max-abs
    * scaling, q = floor(x·127/maxabs + 0.5) ∈ [−127, 127]. Uses
    * +0.5-floor instead of round() because it is pure IEEE arithmetic,
    * identically defined on every engine (HALF-UP ties); all-zero
    * vectors quantize to zeros. The dequant scale (`maxabs`/127) rides
    * along for serving. Column math only — no UDF, no shuffle. */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // maxabs is projected to a plain attribute BEFORE the quantizing
    // lambda references it (computed-expression-in-HOF re-evaluation
    // hazard — see TextFns.wordShingles PERF CONTRACT)
    val withMax = emb.select(col(idCol), col(vecCol).as("_v"),
      array_max(transform(col(vecCol), x => abs(x.cast("double")))).as("maxabs"))
    withMax.select(col(idCol), col("maxabs"),
      transform(col("_v"), x =>
        when(col("maxabs") === 0.0, lit(0L))
          .otherwise(floor(x.cast("double") * lit(127.0) / col("maxabs") + lit(0.5))
            .cast("long"))).as("q8"))
  }

  /** ANN via multi-table SRP-LSH (OR-construction): a candidate is any
    * vector sharing the query's bucket in ≥1 of `tables` independent
    * codes; exact cosine + top-k over the deduplicated candidate set.
    *
    * Recall ≈ 1 − (1 − p^planes)^tables with p = 1 − θ/π — tune
    * planes (bucket selectivity) × tables (recall) per corpus. Cost:
    * the corpus is replicated ×tables into the bucket join (standard
    * LSH space/recall trade); candidates are deduped BEFORE the cosine
    * so each pair is scored once. At 100 TB the join is keyed on
    * (table, bucket) — co-partitioned, never all-pairs.
    *
    * `probes` > 0 adds Hamming-distance-1 multiprobe (Lv et al., VLDB
    * 2007): each QUERY additionally probes the buckets whose code
    * differs in one of the first `probes` planes — the planes a vector
    * near a hyperplane most plausibly fell on the wrong side of. Only
    * the (small, broadcast) query side fans out ×(1+probes); the
    * corpus-side replication and the keyed join shape are unchanged, so
    * at 100 TB multiprobe buys recall WITHOUT re-replicating the corpus
    * — the cheaper axis than more tables.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int,
              planes: Int = 4, tables: Int = 8, probes: Int = 0): DataFrame = {
    require(probes <= planes, "at most one probe per plane (Hamming-1)")
    def withBuckets(df: DataFrame, id: String, vec: String) =
      df.select(col(idCol).as(id), col(vecCol).as(vec))
        .select(col(id), col(vec),
          posexplode(srpBuckets(col(vec), dim, planes, tables)).as(Seq("table", "bucket")))
    val q0 = withBuckets(queries, "query_id", "qvec")
    val q =
      if (probes <= 0) q0
      else q0.select(col("query_id"), col("qvec"), col("table"),
        explode(array((lit(0L) +: (0 until probes).map(p => lit(1L << p)))
          .map(f => col("bucket").bitwiseXOR(f)): _*)).as("bucket"))
    val c = withBuckets(corpus, "neighbor_id", "cvec")
    val candidates = c.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("qvec"), col("neighbor_id"), col("cvec"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = candidates
      .withColumn("cos_sim", cosine(col("qvec"), col("cvec")))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    TopK.perGroupNativeRanked(scored, Seq("query_id"), "cos_sim",
      Seq("neighbor_id"), k, rankName = "rank")
  }
}
