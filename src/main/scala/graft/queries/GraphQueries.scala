package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.Graph

/** Graph analytics over the part co-purchase graph (parts appearing in
  * ≥ 2 common orders — ~3.5k edges at both sf0.01 and sf0.1, so the
  * support threshold, not the raw pair count, sets the graph size).
  *
  * Both queries are DuckDB-hash-verified end to end: PageRank runs in
  * fixed-point integer arithmetic (see [[graft.operators.Graph]]) so the
  * oracle replays every iteration with `//` integer division; triangle
  * counts are integers by nature. The oracle counts triangles with the
  * naive s<t<u three-way join — the ENGINE uses degree-ordered
  * orientation, and equality of the two formulations is exactly what the
  * hash match proves.
  */
object GraphQueries {

  // SQL-fragment vals BEFORE the defs Seq that interpolates them
  // (object init order — see CLAUDE.md).
  private val EdgeCtes =
    sql"""b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
      |e AS (SELECT a.i AS s, c.i AS t FROM b a JOIN b c ON a.o = c.o AND a.i < c.i
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |sym AS (SELECT s AS src, t AS dst FROM e UNION ALL SELECT t, s FROM e),
      |nodes AS (SELECT DISTINCT src AS n FROM sym)"""

  /** Unrolled fixed-point PageRank rounds r1..r`iters` (DuckDB `//`
    * replays Spark's `div` exactly on non-negative BIGINTs). */
  private def pageRankSql(iters: Int): Sql = {
    val rounds = (1 to iters).map { i =>
      sql"""r$i AS (
         |  SELECT nodes.n,
         |         CAST(150000000000 + (COALESCE(m.mass, 0) // 100) * 85
         |              + ((COALESCE(m.mass, 0) % 100) * 85) // 100 AS BIGINT) AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT sym.dst AS n, SUM(r${i - 1}.r // deg.d) AS mass
         |    FROM sym JOIN r${i - 1} ON r${i - 1}.n = sym.src
         |             JOIN deg ON deg.n2 = sym.src
         |    GROUP BY 1) m ON m.n = nodes.n)"""
    }.mkString(",\n")
    sql"""WITH $EdgeCtes,
       |deg AS (SELECT src AS n2, count(*) AS d FROM sym GROUP BY 1),
       |r0 AS (SELECT n, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT n AS item, r AS rank_fp FROM r$iters"""
  }

  /** Unrolled synchronous label-propagation rounds l1..l`iters`: the
    * argmax key is the ordered pair (−cnt, label) taken by min — the
    * engine's struct min_by replayed as DuckDB min over a 2-list
    * (lexicographic), total over the full 64-bit label domain (the
    * former cnt·2³²−label packing mis-voted for labels ≥ 2³²). The
    * zero-count sentinel row keeps every node present. */
  private def labelPropSql(iters: Int): Sql = {
    val rounds = (1 to iters).map { i =>
      sql"""l$i AS (
         |  SELECT t.n, CAST(min([t.k1, t.k2])[2] AS BIGINT) AS label FROM (
         |    SELECT sym.dst AS n, -CAST(count(*) AS BIGINT) AS k1, l${i - 1}.label AS k2
         |    FROM sym JOIN l${i - 1} ON l${i - 1}.n = sym.src
         |    GROUP BY sym.dst, l${i - 1}.label
         |    UNION ALL
         |    SELECT n, CAST(0 AS BIGINT), label FROM l${i - 1}
         |  ) t GROUP BY t.n)"""
    }.mkString(",\n")
    sql"""WITH $EdgeCtes,
       |l0 AS (SELECT n, CAST(n AS BIGINT) AS label FROM nodes),
       |$rounds
       |SELECT n AS item, label FROM l$iters"""
  }

  /** Unrolled textbook BFS min-fold rounds d1..d`hops`: each round
    * relaxes EVERY reached node (min of neighbor dist + 1 and own
    * dist) — deliberately the naive formulation the engine's frontier
    * expansion must equal. */
  private def bfsSql(hops: Int): Sql = {
    val rounds = (1 to hops).map { i =>
      sql"""d$i AS (
         |  SELECT nid, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT sym.dst AS nid, d${i - 1}.dist + 1 AS dist
         |    FROM sym JOIN d${i - 1} ON d${i - 1}.nid = sym.src
         |    UNION ALL
         |    SELECT nid, dist FROM d${i - 1}
         |  ) GROUP BY nid)"""
    }.mkString(",\n")
    sql"""WITH $EdgeCtes,
       |d0 AS (SELECT n AS nid, CAST(0 AS BIGINT) AS dist FROM nodes WHERE n % 97 = 0),
       |$rounds
       |SELECT nid AS item, dist FROM d$hops"""
  }

  private def edges(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.Caching.persistTracked(
      Graph.coOccurrenceEdges(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minSupport = 2L))

  val defs: Seq[(String, QueryDef)] = Seq(

    // 5 fixed-point PageRank iterations over the co-purchase graph.
    // The edge frame persists once (Caching-tracked) and feeds the
    // degree pass, the node frame, and the iteration's out-edge
    // checkpoint; each round is one exchange-free neighbor join + one
    // keyed sum (see Graph.pageRank's scale notes).
    "q_pagerank" -> QueryDef(
      (s, dir) => {
        val e = edges(s, dir)
        Graph.pageRank(e, Graph.edgeNodes(e, "item"), "item", iterations = 5)
      },
      pageRankSql(5)),

    // 4 synchronous label-propagation rounds — community detection
    // beside PageRank's centrality: all-integer label/count/key math,
    // every round replayed by the oracle (the q_pagerank discipline).
    // Complements connected components: CC merges anything touching,
    // LPA splits dense regions from bridges (a community keeps its
    // label only while it out-votes its neighbors').
    "q_label_prop" -> QueryDef(
      (s, dir) => {
        val e = edges(s, dir)
        Graph.labelPropagation(e, Graph.edgeNodes(e, "item"), "item", iterations = 4)
      },
      labelPropSql(4)),

    // Per-node triangle counts, degree-orientation-bounded wedges.
    "q_triangles" -> QueryDef(
      (s, dir) => {
        val e = edges(s, dir)
        Graph.triangleCounts(e, Graph.edgeNodes(e, "item"), "item")
      },
      sql"""WITH $EdgeCtes,
        |tri AS (SELECT e1.s AS x, e1.t AS y, e2.t AS z
        |        FROM e e1 JOIN e e2 ON e1.t = e2.s
        |                  JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t),
        |cnt AS (SELECT n, count(*) AS c FROM (
        |          SELECT x AS n FROM tri
        |          UNION ALL SELECT y FROM tri
        |          UNION ALL SELECT z FROM tri)
        |        GROUP BY 1)
        |SELECT nodes.n AS item, CAST(COALESCE(cnt.c, 0) AS BIGINT) AS triangles
        |FROM nodes LEFT JOIN cnt ON cnt.n = nodes.n"""),

    // Degree distribution — the graph-shape diagnostic read before any
    // iterative algorithm (a power-law tail means salting/orientation
    // is mandatory): per-node degree, then a Q13-style count-of-counts.
    // Two keyed aggs, both map-side combinable.
    "q_degree_dist" -> QueryDef(
      (s, dir) => {
        val e = edges(s, dir)
        val sym = e.select(col("src")).unionAll(e.select(col("dst").as("src")))
        sym.groupBy(col("src"))
          .agg(count(lit(1)).as("degree"))
          .groupBy(col("degree"))
          .agg(count(lit(1)).as("n_nodes"))
      },
      sql"""WITH $EdgeCtes,
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree FROM sym GROUP BY 1)
        |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM deg GROUP BY degree"""),

    // Multi-source BFS hop distances from the item % 97 seed set,
    // 4 bounded rounds. The ENGINE expands frontiers (settled nodes
    // never rejoin); the oracle runs the TEXTBOOK whole-set min-fold —
    // the hash match is the equivalence proof (the q_triangles
    // discipline). All-integer distances.
    "q_bfs_hops" -> QueryDef(
      (s, dir) => {
        val e = edges(s, dir)
        Graph.bfsHops(e,
          Graph.edgeNodes(e, "item").filter(col("item") % 97 === 0),
          "item", maxHops = 4)
      },
      bfsSql(4))
  )
}
