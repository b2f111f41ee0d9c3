package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over item-relation graphs (co-purchase, co-occurrence,
  * near-dup candidates): PageRank and triangle counting. Complements the
  * connected-components family in [[Dedup]].
  *
  * Determinism discipline: PageRank is computed in FIXED-POINT integer
  * arithmetic (ranks are BIGINTs scaled by 10^12, every step is integer
  * multiply / integer divide) — a double formulation would sum per-node
  * contributions in partition order and could never be hash-compared
  * against another engine. Same decision class as `ColFns.moneySum`.
  */
object Graph {

  /** Co-occurrence edges from (basket, item) rows: items appearing in at
    * least `minSupport` common baskets, as canonical (src < dst, weight).
    *
    * Plan: per-basket collect_set (dedup happens in the map-side
    * partial agg) → PairsGenerator explodes canonical (x < y) pairs
    * map-side → ONE keyed count agg → threshold. Two keyed shuffles
    * total — see the inline note for the measurement vs the textbook
    * distinct + self-join formulation. The support threshold is the
    * graph sparsifier: raw pair counts grow ~k² per basket, the
    * thresholded edge set is the stable backbone (sf0.01 and sf0.1 both
    * land ~3.5k edges at minSupport=2). `maxBasketSize` guards the k²
    * blowup against a degenerate giant basket, same contract as
    * [[AssocRules.rules]].
    */
  def coOccurrenceEdges(baskets: DataFrame, basketCol: String, itemCol: String,
                        minSupport: Long, maxBasketSize: Option[Int] = None): DataFrame = {
    import graft.functions.PairsGenerator.pairs
    // collect_set dedups in the partial agg (map-side), PairsGenerator
    // canonicalizes (x < y) and emits pairs map-side: TWO keyed
    // shuffles total (basket gather + pair count) vs the textbook
    // distinct + window-cap + self-join's four — the q_assoc_rules_gen
    // measurement (4.6 → 1.2 s at 1M baskets) applied to the graph
    // family's shared edge build (the q_degree_dist oracle still runs
    // the self-join formulation; its hash match is the equivalence
    // proof)
    // bid keeps its NATIVE type (the AssocRules.rules rule): a
    // cast("long") here silently NULLed every non-numeric basket id
    // (string/UUID keys), collapsing ALL such baskets into one giant
    // null basket — phantom co-occurrence edges AND the k² blowup the
    // cap exists to prevent. groupBy keys on any comparable type.
    // A literal NULL bid is the same failure in miniature: groupBy
    // KEEPS the NULL group, so all unkeyed rows would merge into one
    // phantom basket — drop them (a NULL key is no basket, the
    // symmetrize rule).
    val sets = baskets
      .select(col(basketCol).as("bid"), col(itemCol).as("item"))
      .filter(col("bid").isNotNull)
      .groupBy(col("bid")).agg(collect_set(col("item")).as("items"))
    val capped = maxBasketSize match {
      case Some(cap) => sets.filter(size(col("items")) <= cap)
      case None => sets
    }
    capped.select(pairs(col("items")).as(Seq("src", "dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= minSupport)
  }

  /** Node frame (one `idCol` row per distinct endpoint) of an edge set. */
  def edgeNodes(edges: DataFrame, idCol: String): DataFrame =
    edges.select(col("src").as(idCol))
      .union(edges.select(col("dst").as(idCol))).distinct()

  /** Symmetrized (src, dst) edge view with NULL endpoints dropped — a
    * null id would slip through every null-UNSAFE anti join / groupBy
    * downstream (BFS re-discovered a null node every round with a new
    * distance before this filter). Shared by the iterative family. */
  private def symmetrize(edges: DataFrame): DataFrame = {
    // one pass over `edges` (r19, the Dedup.connectedComponents rule):
    // both orientations explode map-side from a single scan instead of
    // a two-branch union that re-reads (and for an unmaterialized edge
    // frame, recomputes) the input twice
    edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection in fixed rounds: every node adopts the most frequent
    * label among its neighbors, count ties going to the LOWEST label.
    * The argmax key is the ORDERED PAIR (−cnt, label) taken by min —
    * total over the FULL 64-bit label domain (an earlier cnt·2³² −
    * label BIGINT packing silently mis-voted for labels ≥ 2³² or
    * negative, i.e. for any caller using xxhash64 ids; Spark min_by
    * over a struct and DuckDB min over a 2-list replay the pair order
    * identically). `iterations` is fixed (synchronous LPA is not
    * guaranteed to converge — the bounded-round form IS the
    * deterministic contract).
    *
    * Per round: one exchange-reusing neighbor join (sym is checkpointed
    * pre-hashed on src; labels arrive hashed on nid from the previous
    * round's agg) + two keyed aggs. A zero-count sentinel row per node
    * (key (0, label) > every real key (−cnt, ·), cnt ≥ 1) keeps
    * isolated nodes at their own label without a left join.
    *
    * Every round but the last checkpoints its labels: each round
    * references the previous `labels` TWICE (neighbor join + sentinel
    * union), so an uncheckpointed chain doubles the plan per round —
    * measured 1.9/2.8/5.5/14.1 s for rounds 1–4 at sf0.1 before,
    * linear 2.7 s (4 rounds) after. The lazy localCheckpoint makes both
    * references share one RDD with no extra driver action (the CC loop
    * discipline).
    *
    * @return (idCol, label BIGINT) — community = shared label
    */
  def labelPropagation(edges: DataFrame, nodes: DataFrame, idCol: String,
                       iterations: Int = 4): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(idCol != "label", "idCol 'label' collides with the output column")
    // labels ARE node ids cast to the BIGINT label domain (the output
    // contract and the (−cnt, label) vote ordering need it): on a
    // non-integral id type that cast silently yields NULL labels and
    // NULL votes — fail loudly instead (hash string ids to int64
    // upstream, e.g. xxhash64, the caller's choice of collision domain)
    val idType = nodes.schema(idCol).dataType
    require(Seq[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(idType),
      s"labelPropagation needs an integral id column for the label domain, got ${idType.sql} — " +
        "hash non-integral ids to BIGINT upstream")
    val sym = symmetrize(edges)
      .repartition(col("src")).localCheckpoint(false)
    var labels = nodes.select(col(idCol).as("nid"), col(idCol).cast("long").as("label"))
    for (i <- 1 to iterations) {
      val neigh = sym.join(labels, sym("src") === labels("nid"))
        .groupBy(col("dst").as("nid2"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("nid2").as("nid"), col("label"),
          struct((-col("cnt")).as("nc"), col("label").as("lb")).as("key"))
      val withSentinel = neigh.unionByName(
        labels.select(col("nid"), col("label"),
          struct(lit(0L).as("nc"), col("label").as("lb")).as("key")))
      labels = withSentinel.groupBy(col("nid"))
        .agg(min_by(col("label"), col("key")).as("label"))
      if (i < iterations)
        labels = labels.localCheckpoint(false)
    }
    labels.select(col("nid").as(idCol), col("label"))
  }

  /** Rounds between [[pageRank]]'s plan-truncating checkpoints. */
  private val PageRankCheckpointRounds = 8

  /** PageRank over an UNDIRECTED edge set, fixed iteration count,
    * fixed-point integer arithmetic (bit-exact on any engine):
    *
    *   r₀(v)   = SCALE                       (SCALE = `scale`, default 10^12)
    *   rᵢ₊₁(v) = (15·SCALE) div 100
    *           + (85 · Σ_{u∼v} (rᵢ(u) div deg(u))) div 100
    *
    * — the standard damping-0.85 formulation with the division order
    * pinned (per-neighbor integral share first, damping last), so Spark
    * `div` and DuckDB `//` replay it exactly. Overflow headroom: every
    * per-node mass is bounded by the TOTAL mass n·SCALE, and the 85×
    * damping step is computed as (m div 100)·85 + ((m mod 100)·85) div
    * 100 — algebraically equal to (85·m) div 100 but never forming the
    * 85·m product (which overflows int64 once a hub's mass passes
    * ~1.1·10¹⁷, i.e. a 100k-leaf star at this SCALE). The remaining
    * bound is n·SCALE < 2⁶³: at SCALE 10¹² that is ~9M nodes in the
    * worst (all mass on one node) case — pass `scale` ~10⁶ for
    * billion-node graphs; precision loss is the per-share floor only.
    *
    * Scale plan (and the lesson that shaped it): each round references
    * the previous ranks frame exactly ONCE, so the plan grows linearly
    * in the iteration count instead of doubling per round, and a
    * fixed-iteration run is ONE driver action with no per-round
    * checkpoint barriers (a per-round eager checkpoint costs a full job
    * launch + materialization each round — measured 10.8 s vs 4.5 s
    * steady on the sf0.1 co-purchase graph). Zero-share sentinel rows
    * replace the per-round left join, so one keyed agg is the round's
    * only shuffle of node-cardinality data. The degree-annotated
    * out-edge list and the sentinel frame are LAZY
    * `localCheckpoint(false)` (materialized once inside the caller's
    * action, reused by every round); a lazy checkpoint every 8th
    * round bounds plan depth for long runs.
    *
    * @param edges canonical undirected pairs (`src`, `dst`)
    * @param nodes one row per node id; MUST cover every edge endpoint
    *              (pass [[edgeNodes]] or a superset — an endpoint
    *              missing from `nodes` contributes nothing in round 1
    *              yet accumulates incoming mass, silently corrupting
    *              its neighborhood's ranks). Isolated nodes settle at
    *              0.15·SCALE.
    * @param scale fixed-point unit (default 10¹²). The binding bound is
    *              n·scale < 2⁶³ (total mass in the worst all-mass-on-
    *              one-node case) — billion-node callers pass ~10⁶, the
    *              knob the scaladoc's headroom note promises. Precision:
    *              per-share floor error is 1/scale of a rank unit.
    * @return (idCol, rank_fp BIGINT) — rank scaled by `scale`
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, idCol: String,
               iterations: Int = 5,
               scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(idCol != "rank_fp", "idCol 'rank_fp' collides with the output column")
    // n is not knowable here without an extra driver action, so the
    // guard bounds what IS checkable: scale ≥ 100 keeps the div-100
    // damping decomposition meaningful (below that, 15·scale div 100
    // collapses toward 0 and ranks degenerate), and the 10¹⁵ ceiling
    // leaves ≥ 9200 nodes of all-mass-on-one-node headroom under 2⁶³ —
    // a scale above that can overflow on a HANDFUL of nodes, which is
    // never the right trade. The n·scale bound itself stays the
    // caller's contract (scaladoc @param scale).
    require(scale >= 100L && scale <= 1000000000000000L,
      s"scale must be in [100, 10^15], got $scale")
    val sym = symmetrize(edges)
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val out = sym.join(deg, Seq("src")).localCheckpoint(false)
    // zero-share sentinel rows make every node surface in the round's
    // aggregate — a map-side union instead of a second (left outer)
    // join per round: one keyed agg is the round's ONLY shuffle of
    // node-cardinality data
    val zeros = nodes.select(col(idCol).as("nid"), lit(0L).as("share"))
      .localCheckpoint(false)
    var ranks = zeros.select(col("nid"), lit(scale).as("rank_fp"))
    for (i <- 1 to iterations) {
      val contribs = out.join(ranks, out("src") === ranks("nid"))
        .select(col("dst").as("nid"), expr("rank_fp div deg").as("share"))
      ranks = contribs.union(zeros)
        .groupBy(col("nid")).agg(sum(col("share")).as("mass"))
        .select(col("nid"),
          // overflow-safe (85·m) div 100: see the scaladoc headroom note
          (lit(15L * scale / 100L) +
            expr("(mass div 100) * 85 + ((mass % 100) * 85) div 100")).as("rank_fp"))
      if (i % PageRankCheckpointRounds == 0 && i < iterations)
        ranks = ranks.localCheckpoint(false)
    }
    ranks.select(col("nid").as(idCol), col("rank_fp"))
  }

  /** Per-node triangle counts over a canonical undirected edge set.
    *
    * Degree-ordered orientation (the classic wedge-bounding trick):
    * direct every edge from its lower-(degree, id) endpoint to the
    * higher one, enumerate wedges from each node's OUT-edges only, and
    * close them against the canonical edge set. Out-degrees under this
    * orientation are O(√m) on ANY graph, so wedge generation — the
    * quadratic step — is bounded per node no matter how skewed the raw
    * degree distribution is: a celebrity node with 10⁷ neighbors
    * produces wedges only through its (few) higher-degree peers, never
    * 10¹⁴ pairs. All joins are keyed; nothing collects.
    *
    * @return (idCol, triangles BIGINT) — one row per node in `nodes`
    */
  def triangleCounts(edges: DataFrame, nodes: DataFrame, idCol: String): DataFrame = {
    require(idCol != "triangles" && idCol != "n",
      s"idCol '$idCol' collides with an internal/output column")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
    // orient by (degree, id): u→v iff (d(u), u) < (d(v), v).
    // persistTracked: dirE feeds BOTH sides of the wedge self-join —
    // uncached, the sym build + deg agg + two degree-attach joins run
    // twice (released by the caller via Caching.release())
    val dirE = graft.Caching.persistTracked(e
      .join(deg.select(col("n").as("src"), col("d").as("ds")), Seq("src"))
      .join(deg.select(col("n").as("dst"), col("d").as("dd")), Seq("dst"))
      .select(
        when(struct(col("ds"), col("src")) < struct(col("dd"), col("dst")),
          col("src")).otherwise(col("dst")).as("from"),
        when(struct(col("ds"), col("src")) < struct(col("dd"), col("dst")),
          col("dst")).otherwise(col("src")).as("to")))
    // wedges from a common source's out-edges (u < v canonicalizes the
    // pair); the closing edge is looked up in canonical (src<dst) form
    val e1 = dirE.select(col("from").as("w"), col("to").as("u"))
    val e2 = dirE.select(col("from").as("w"), col("to").as("v"))
    val wedges = e1.join(e2, Seq("w")).filter(col("u") < col("v"))
    val tris = wedges.join(e,
      wedges("u") === e("src") && wedges("v") === e("dst"))
      .select(col("w"), col("u"), col("v"))
    val perNode = tris
      .select(explode(array(col("w"), col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("triangles"))
    nodes.select(col(idCol))
      .join(perNode, nodes(idCol) === perNode("n"), "left")
      .select(col(idCol), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Multi-source BFS shortest hop counts over an UNDIRECTED edge set,
    * bounded rounds — the reachability-with-distance primitive beside
    * [[Dedup.connectedComponents]]' reachability and [[pageRank]]'s
    * centrality (lineage depth from seed docs, blast radius of a
    * contaminated set, hop-bounded neighborhoods).
    *
    * FRONTIER expansion, not the textbook whole-set relaxation: round i
    * joins only the nodes FIRST REACHED in round i−1 against the edge
    * set (in unweighted BFS a node's first discovery round IS its
    * distance, so settled nodes never need another look). Per round the
    * join touches |edges incident to the frontier| — on a 100 TB graph
    * whole-set min-folding re-grinds every settled node every round,
    * while the frontier shrinks as the wave passes. The oracle replays
    * the TEXTBOOK min-fold, so the hash match proves frontier ≡
    * min-fold. Each frontier is localCheckpoint'd (small by
    * construction); `reached` stays a flat union of ≤ maxHops
    * checkpointed frontiers.
    *
    * @return (idCol, dist BIGINT) — one row per node within `maxHops`
    *         of any source; unreached nodes are absent
    */
  def bfsHops(edges: DataFrame, sources: DataFrame, idCol: String,
              maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50,
      s"maxHops must be in [1, 50], got $maxHops")
    require(idCol != "dist", "idCol 'dist' collides with the output column")
    // symmetrize drops NULL endpoints — the settled-set anti join below
    // is null-UNSAFE (null = null is unknown), so a null node would be
    // re-discovered every round with a fresh distance
    val sym = symmetrize(edges)
      .repartition(col("src")).localCheckpoint(false)
    var frontier = sources.select(col(idCol).as("nid")).distinct()
      .localCheckpoint(false)
    var reached = frontier.select(col("nid"), lit(0L).as("dist"))
    for (i <- 1 to maxHops) {
      val next = sym.join(frontier, sym("src") === frontier("nid"))
        .select(col("dst").as("nid")).distinct()
        .join(reached.select(col("nid")), Seq("nid"), "left_anti")
        .localCheckpoint(false)
      reached = reached.union(next.select(col("nid"), lit(i.toLong).as("dist")))
      frontier = next
    }
    reached.select(col("nid").as(idCol), col("dist"))
  }
}
