package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** Graph operators: co-occurrence edge derivation, fixed-point PageRank
  * (hand-computed values — the integer arithmetic is the contract), and
  * degree-oriented triangle counting vs hand-enumerated graphs. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edgesOf(pairs: (Long, Long)*) =
    pairs.toDF("src", "dst")

  private def nodesOf(ids: Long*) = ids.toDF("item")

  test("coOccurrenceEdges thresholds pair counts and canonicalizes") {
    val baskets = Seq(
      (10L, "a"), (10L, "b"), (10L, "c"),
      (20L, "b"), (20L, "a"), (20L, "a"), // dup (20,a) must not double-count
      (30L, "a"), (30L, "b")).toDF("bid", "item")
    val e = Graph.coOccurrenceEdges(baskets, "bid", "item", minSupport = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(e.toSet == Set(("a", "b", 3L))) // (a,c) and (b,c) have support 1
  }

  test("coOccurrenceEdges keeps basket ids native: disjoint string baskets never merge") {
    // the old cast("long") NULLed string ids, collapsing every basket
    // into one — phantom edges between items that never co-occurred
    val baskets = Seq(
      ("b-1", "a"), ("b-1", "b"),
      ("b-2", "c"), ("b-2", "d")).toDF("bid", "item")
    val e = Graph.coOccurrenceEdges(baskets, "bid", "item", minSupport = 1L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(e == Set(("a", "b"), ("c", "d")), s"cross-basket phantom edges: $e")
  }

  test("coOccurrenceEdges drops NULL basket ids instead of merging them") {
    // groupBy keeps the NULL group: unkeyed rows would form one phantom
    // basket with edges between items that never co-occurred (ADVICE r12)
    val baskets = Seq(
      (Some("b1"), "a"), (Some("b1"), "b"),
      (None: Option[String], "c"), (None, "d"), (None, "a"))
      .toDF("bid", "item")
    val e = Graph.coOccurrenceEdges(baskets, "bid", "item", minSupport = 1L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(e == Set(("a", "b")), s"phantom NULL-basket edges: $e")
  }

  test("labelPropagation rejects non-integral id columns at call time") {
    val edges = Seq(("x", "y")).toDF("src", "dst")
    val nodes = Seq("x", "y").toDF("item")
    val ex = intercept[IllegalArgumentException] {
      Graph.labelPropagation(edges, nodes, "item")
    }
    assert(ex.getMessage.contains("integral id column"), ex.getMessage)
  }

  test("pageRank: hand-computed fixed-point values on a star") {
    // star 1–2, 1–3: deg(1)=2, deg(2)=deg(3)=1, SCALE=1e12
    // r1(1) = 0.15·S + (85 · (S div 1 + S div 1)) div 100 = 1.85·S
    // r1(2) = 0.15·S + (85 · (S div 2)) div 100       = 0.575·S
    val r1 = Graph.pageRank(edgesOf((1L, 2L), (1L, 3L)), nodesOf(1L, 2L, 3L),
        "item", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(1L) == 1850000000000L)
    assert(r1(2L) == 575000000000L)
    assert(r1(3L) == 575000000000L)
    // round 2: in(1) = r1(2) div 1 + r1(3) div 1 = 1.15e12
    //          r2(1) = 15e10 + 85*1.15e12 div 100 = 15e10 + 977.5e9 = 1127.5e9
    //          in(2) = r1(1) div 2 = 925e9 → r2(2) = 15e10+786.25e9 = 936.25e9
    val r2 = Graph.pageRank(edgesOf((1L, 2L), (1L, 3L)), nodesOf(1L, 2L, 3L),
        "item", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2(1L) == 1127500000000L)
    assert(r2(2L) == 936250000000L)
  }

  test("pageRank: symmetric graphs stay at the uniform fixed point; mass is conserved") {
    // a single edge and a triangle are both regular graphs — uniform
    // rank S is exactly the fixed point of the integer recurrence
    val uni = Graph.pageRank(edgesOf((7L, 8L)), nodesOf(7L, 8L), "item", 3)
      .collect().map(_.getLong(1))
    assert(uni.forall(_ == 1000000000000L))
    val tri = Graph.pageRank(edgesOf((1L, 2L), (2L, 3L), (1L, 3L)),
        nodesOf(1L, 2L, 3L), "item", 4)
      .collect().map(_.getLong(1))
    assert(tri.forall(_ == 1000000000000L))
    // isolated node settles at 0.15·S after one round
    val iso = Graph.pageRank(edgesOf((1L, 2L)), nodesOf(1L, 2L, 99L), "item", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(iso(99L) == 150000000000L)
    // total mass on a connected graph stays within integer-floor loss of n·S
    val star = Graph.pageRank(edgesOf((1L, 2L), (1L, 3L), (1L, 4L)),
        nodesOf(1L, 2L, 3L, 4L), "item", 5)
      .collect().map(_.getLong(1))
    assert(star.sum <= 4000000000000L && star.sum > 3999999999000L)
  }

  test("triangleCounts: hand-enumerated graphs") {
    // triangle {1,2,3} + pendant 4 off node 3; square {5,6,7,8} has none
    val e = edgesOf((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L), (7L, 8L), (5L, 8L))
    val t = Graph.triangleCounts(e, nodesOf(1L to 8L: _*), "item")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L,
      5L -> 0L, 6L -> 0L, 7L -> 0L, 8L -> 0L))
    // K4: every node sits on C(3,2) = 3 triangles
    val k4 = Graph.triangleCounts(
      edgesOf((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)),
      nodesOf(1L, 2L, 3L, 4L), "item")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k4.values.forall(_ == 3L))
  }

  test("triangleCounts matches the naive 3-join count on the sf0.001 co-purchase graph") {
    val baskets = Tables.lineitem(spark, sf001)
      .select(col("l_orderkey"), col("l_partkey"))
    val e = Graph.coOccurrenceEdges(baskets, "l_orderkey", "l_partkey", 2L)
      .persist()
    try {
      val mine = Graph.triangleCounts(e, Graph.edgeNodes(e, "item"), "item")
      val e1 = e.select(col("src").as("x"), col("dst").as("y"))
      val e2 = e.select(col("src").as("y"), col("dst").as("z"))
      val e3 = e.select(col("src").as("x"), col("dst").as("z"))
      val naive = e1.join(e2, "y").join(e3, Seq("x", "z"))
        .select(explode(array(col("x"), col("y"), col("z"))).as("item"))
        .groupBy("item").agg(count(lit(1)).as("triangles"))
      // anti-join in both directions over (item, count): empty = equal
      val mineNZ = mine.filter(col("triangles") > 0)
      assert(mineNZ.except(naive).isEmpty && naive.except(mineNZ).isEmpty)
    } finally e.unpersist()
  }

  test("labelPropagation: two triangles split at the bridge; isolated node keeps its label") {
    // triangles {1,2,3} and {4,5,6} joined by one bridge 3–4: LPA's
    // majority vote settles each triangle on its own community (1 and
    // 3) — exactly the structure connected components CANNOT separate
    // (CC merges all six). Node 7 has no edges → sentinel keeps 7.
    val out = Graph.labelPropagation(
        edgesOf((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)),
        nodesOf(1L, 2L, 3L, 4L, 5L, 6L, 7L), "item", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L, 7L -> 7L))
  }

  test("labelPropagation: count ties break to the lowest label deterministically") {
    // path 1–2–3: after round 1 node 2 sees {1,3} once each → lowest (1)
    val r1 = Graph.labelPropagation(edgesOf((1L, 2L), (2L, 3L)),
        nodesOf(1L, 2L, 3L), "item", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
  }

  test("bfsHops: multi-source min distance, hop bound, unreached absent") {
    // path 1–2–3–4–5 plus a disconnected pair 10–11; sources {1, 5}
    val e = edgesOf((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    def run(hops: Int) = Graph.bfsHops(e, nodesOf(1L, 5L), "item", maxHops = hops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 3 is 2 hops from BOTH sources; 2 and 4 take the nearer one
    assert(run(2) == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
    // the hop bound truncates the wave, it never relabels
    assert(run(1) == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L))
    // extra rounds past convergence change nothing (frontier drains)
    assert(run(10) == run(2))
  }

  test("labelPropagation matches brute-force sync LPA on 64-bit and negative ids") {
    // ids spanning >= 2^33 and negative — the domain the former
    // cnt*2^32 - label packed key silently mis-voted on
    val big = 1L << 33
    val ids = Seq(-big - 7L, -5L, 3L, big, big + 1L, big + 9L, 12L)
    val edges = Seq(
      (ids(0), ids(1)), (ids(0), ids(2)), (ids(1), ids(2)),
      (ids(3), ids(4)), (ids(3), ids(5)), (ids(4), ids(5)),
      (ids(2), ids(3)), (ids(6), ids(0)))
    def brute(iters: Int): Map[Long, Long] = {
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2) }
      var lab = ids.map(i => i -> i).toMap
      for (_ <- 1 to iters) {
        lab = ids.map { n =>
          val neigh = adj.getOrElse(n, Seq.empty).map(lab)
          if (neigh.isEmpty) n -> lab(n)
          else {
            val counts = neigh.groupBy(identity).map { case (l, o) => (l, o.size) }
            // max count, tie -> lowest label (the engine contract)
            n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
          }
        }.toMap
      }
      lab
    }
    for (iters <- Seq(1, 3)) {
      val got = Graph.labelPropagation(edges.toDF("src", "dst"),
          ids.toDF("item"), "item", iterations = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == brute(iters), s"iters=$iters")
    }
  }

  test("pageRank: hub mass past the 85x Long-product boundary stays exact") {
    // 150k-leaf star: round-1 hub mass = 150000 * SCALE = 1.5e17, so the
    // naive 85 * mass product overflows Long (1.275e19 > 9.2e18) — the
    // decomposed damping must return the exact value instead of throwing
    val n = 150000
    val edges = (1 to n).map(i => (0L, i.toLong)).toDF("src", "dst")
    val nodes = (0 to n).map(_.toLong).toDF("item")
    val hub = Graph.pageRank(edges, nodes, "item", iterations = 1)
      .filter(col("item") === 0L).collect()(0).getLong(1)
    val mass = n.toLong * 1000000000000L
    assert(hub == 150000000000L + (mass / 100L) * 85L + ((mass % 100L) * 85L) / 100L)
  }

  test("pageRank: scale parameter drives the fixed point and restores n·scale headroom") {
    // the q_pagerank star values replayed at scale 10^6: every expected
    // value is the 10^12 hand computation shifted by 10^6 EXCEPT where
    // the per-share floor differs — at this graph's round-1 values
    // nothing floors, so the shift is exact
    val r1 = Graph.pageRank(edgesOf((1L, 2L), (1L, 3L)), nodesOf(1L, 2L, 3L),
        "item", iterations = 1, scale = 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(1L) == 1850000L)
    assert(r1(2L) == 575000L)
    // the headroom the knob buys (the scaladoc's billion-node story in
    // miniature): the 150k-leaf star's round-1 hub mass at scale 10^12
    // sits past the naive 85·m Long product (the decomposition test
    // above); at scale 10^6 the same graph's total mass n·scale is
    // 1.5e11 — six orders under 2^63 — and the hub value is exact
    val n = 150000
    val edges = (1 to n).map(i => (0L, i.toLong)).toDF("src", "dst")
    val nodes = (0 to n).map(_.toLong).toDF("item")
    val hub = Graph.pageRank(edges, nodes, "item", iterations = 1, scale = 1000000L)
      .filter(col("item") === 0L).collect()(0).getLong(1)
    val mass = n.toLong * 1000000L
    assert(hub == 150000L + (mass / 100L) * 85L + ((mass % 100L) * 85L) / 100L)
    // guard boundaries: below 100 the damping arithmetic degenerates;
    // above 10^15 a handful of nodes can overflow total mass
    intercept[IllegalArgumentException] {
      Graph.pageRank(edgesOf((1L, 2L)), nodesOf(1L, 2L), "item", scale = 99L) }
    intercept[IllegalArgumentException] {
      Graph.pageRank(edgesOf((1L, 2L)), nodesOf(1L, 2L), "item",
        scale = 10000000000000000L) }
  }

  test("bfsHops: null edge endpoints are dropped, never re-discovered each round") {
    val e = Seq((Some(1L), Some(2L)), (Some(2L), Option.empty[Long]))
      .toDF("src", "dst")
    val out = Graph.bfsHops(e, nodesOf(1L), "item", maxHops = 4).collect()
    assert(out.length == out.map(_.get(0)).distinct.length, "one row per node")
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 0L, 2L -> 1L))
  }

  test("graph operators reject idCol names that collide with output columns") {
    val e = edgesOf((1L, 2L))
    intercept[IllegalArgumentException] {
      Graph.labelPropagation(e, nodesOf(1L, 2L), "label") }
    intercept[IllegalArgumentException] {
      Graph.pageRank(e, nodesOf(1L, 2L), "rank_fp") }
    intercept[IllegalArgumentException] {
      Graph.bfsHops(e, nodesOf(1L), "dist") }
    intercept[IllegalArgumentException] {
      Graph.triangleCounts(e, nodesOf(1L, 2L), "triangles") }
  }
}
