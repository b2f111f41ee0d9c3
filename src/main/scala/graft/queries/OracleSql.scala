package graft.queries

import graft.operators.{Cms, Hll, IvfCentroids, Similarity}

/** DuckDB replay rules that more than one oracle registry states: the
  * portable hash, the money sum (plain and windowed), the split label,
  * the CMS bucket, the TPC-H Q5 join, the HLL registers
  * and harmonic, gap sessionization, the tokenizer and 3-gram shingles,
  * the exact cosine, the frozen-IVF cell rank, the SRP codes and bucket
  * explode, the hierarchical and the runtime-sized quantizer rebuilds,
  * the intra-cell edge join, the top-10 rank tail and the recursive
  * min-id closure.
  *
  * Each replay rule is written once: here when several registries
  * state it, as a private builder of its registry when only one does.
  * A builder takes only what differs between its call sites (a CTE
  * prefix, a rank bound, a row filter, a pair predicate), so a rule
  * that moves with the engine is one edit, and every oracle that
  * replays it moves too. Builders return [[Sql]], margin-stripped by
  * construction.
  */
private[queries] object OracleSql {

  /** The tokenizer (graft.functions.TextFns.tokens) over column `c`:
    * lower-cased, trimmed, split on whitespace runs, empties dropped. */
  def tokens(c: String): String =
    s"list_filter(string_split_regex(trim(lower($c)), '\\s+'), t -> t <> '')"

  /** The engine's `portable_hash60` of the VARCHAR expression `x`: the
    * first 15 hex digits of its md5 as a BIGINT. */
  def hash60(x: String): String =
    s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT)"

  /** ColFns.moneySum's replay: the exact sum of money-valued `x` as
    * DECIMAL(18, scale), back to DOUBLE; `over` (a window name or a
    * parenthesized frame) makes it the windowed sum. */
  def decimalSum(x: String, scale: Int, over: String = ""): String = {
    val w = if (over.isEmpty) "" else s" OVER $over"
    s"CAST(sum(CAST($x AS DECIMAL(18,$scale)))$w AS DOUBLE)"
  }

  /** Splits.assign's default label of its `bucket` (0..99) column. */
  val SplitCase: String =
    "CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split"

  /** Cms.counters' bucket of the 60-bit hash `h` in row `seed`. */
  val CmsBucket: String = s"(h >> (seed * 11)) % ${Cms.W}"

  /** TPC-H Q5's six-table join of local suppliers (supplier and
    * customer in one nation) in region ASIA. */
  val Q5AsiaJoin: Sql =
    sql"""FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'"""

  /** The portable HLL's registers (operators/Hll) over `h(.., h)`:
    * `r(<cols>, reg, rho)`, reg the hash's top 6 of 60 bits. */
  def hllRegisterCte(cols: String): Sql =
    sql"""r AS (
      |  SELECT $cols, h // 18014398509481984 AS reg,
      |         CAST(CASE WHEN h % 18014398509481984 = 0 THEN 55
      |              ELSE 55 - length(bin(h % 18014398509481984)) END AS BIGINT) AS rho
      |  FROM h)"""

  /** The HLL harmonic tail over register maxima `m(<key>, reg, mx)`:
    * `s(<key>, regs_hit, harmonic)`, the 2⁵⁵-scaled integer sum with
    * each empty register at 2⁵⁵. */
  def hllHarmonicCte(key: String): Sql =
    sql"""s AS (
      |  SELECT $key,
      |         CAST(count(*) AS BIGINT) AS regs_hit,
      |         CAST(sum(1::BIGINT << CAST(55 - mx AS INT)) + (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS harmonic
      |  FROM m GROUP BY 1)"""

  /** The HLL estimate from a [[hllHarmonicCte]] harmonic. */
  def hllEstimate(harmonic: String): String =
    s"CAST('${Hll.EstNumerator.toString}' AS DOUBLE) / CAST($harmonic AS DOUBLE) AS hll_estimate"

  /** Gap sessionization of `events`: `flagged` marks each event that
    * opens a session (its user's first, or more than `gapUs` after the
    * previous one), and `sessions(user_id, ts_us, session_idx)` numbers
    * the sessions by a running sum of those marks. DuckDB's sum(int) is
    * HUGEINT, which pandas reads as float64, and the result hash is
    * dtype-sensitive, so session_idx is cast back to BIGINT. */
  def sessionCtes(gapUs: Long): Sql =
    sql"""flagged AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > $gapUs
      |              THEN 1 ELSE 0 END AS boundary
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |), sessions AS (
      |  SELECT user_id, ts_us,
      |         CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM flagged
      |)"""

  /** The tokenized documents as a `toks(doc_id, t)` CTE. */
  val ToksCte: Sql =
    sql"""toks AS (
      |  SELECT doc_id, ${tokens("text")} AS t
      |  FROM documents
      |)"""

  /** Distinct word 3-gram shingles per document, `sh(<id>, shingle)`;
    * `id` is the select item naming the document column. */
  def shingleCtes(id: String): Sql =
    sql"""$ToksCte, sh0 AS (
      |  SELECT doc_id, CASE WHEN len(t) >= 3
      |    THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)])
      |    ELSE [array_to_string(t, ' ')] END AS s
      |  FROM toks
      |), sh AS (SELECT DISTINCT $id, unnest(s) AS shingle FROM sh0)"""

  /** A vector's L2 norm: like the engine, a sequential ascending-index
    * double fold. */
  def norm(v: String): String = s"sqrt(list_dot_product($v, $v))"

  /** The one-division cosine `dot / (|a| * |b|)`, the engine's fused
    * CosineSimilarity form; list_dot_product accumulates in the same
    * order, so the two agree to the bit. */
  def cosine(a: String, b: String): String =
    s"list_dot_product($a, $b) / (${norm(a)} * ${norm(b)})"

  /** The embeddings as a `<p>e(vec_id, v DOUBLE[])` CTE. */
  def embCte(p: String = ""): String =
    s"${p}e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  /** The frozen-IVF cell rank, as a parenthesized CTE body: each `e` row
    * of `from` ranks the centroids of table `t` (id column `cell`,
    * vector column `c`) by cosine to its vector, lowest id first on
    * ties, as `crank`; the rows whose crank meets `bound` keep `keep`.
    * `carryV` passes `e.v` through. */
  def cellRank(keep: String, bound: String, from: String = "e CROSS JOIN cents",
               t: String = "cents", carryV: Boolean = false,
               cell: String = "cell", c: String = "c"): Sql = {
    val v = if (carryV) " e.v," else ""
    val cellCol = if (cell == "cell") s"$t.cell" else s"$t.$cell AS cell"
    sql"""(
      |  SELECT $keep FROM (
      |    SELECT e.vec_id,$v $cellCol,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY ${cosine("e.v", s"$t.$c")} DESC,
      |             $t.$cell) AS crank
      |    FROM $from)
      |  WHERE crank $bound)"""
  }

  /** The flat tier's probed assignment: every vector's top-2 frozen IVF
    * cells, `asgn(vec_id, cell, crank)`, over `e` and `cents`. */
  val FlatProbedCtes: Sql =
    sql"""${embCte()},
      |cents AS (${IvfCentroids.duckdbValues}),
      |asgn AS ${cellRank("vec_id, cell, crank", "<= 2")}"""

  /** The intra-cell edge join over a probed assignment `asgn(vec_id,
    * cell)` and the vectors `e`, as a parenthesized CTE body: pairs
    * sharing a cell at exact cosine ≥ 0.4. `pair` extends the cell
    * join, `where` leads the threshold, `ids` names the two sides. */
  def cellEdges(pair: String, where: String = "",
                ids: String = "a.vec_id AS id1, b.vec_id AS id2"): Sql =
    sql"""(
      |  SELECT $ids
      |  FROM asgn a JOIN asgn b ON a.cell = b.cell$pair
      |  JOIN e qe ON qe.vec_id = a.vec_id
      |  JOIN e ce ON ce.vec_id = b.vec_id
      |  WHERE $where${cosine("qe.v", "ce.v")} >= 0.4)"""

  /** The ingest oracles' directed candidate edges: pairs sharing a
    * probed `asgn` cell at cosine ≥ 0.4. */
  val CellEdgesCte: String =
    s"edges AS MATERIALIZED ${cellEdges(" AND a.vec_id <> b.vec_id")}"

  /** The top-10 rank tail: `src`'s (query_id, neighbor_id) rows ranked
    * per query by `score` descending, neighbor_id ascending on ties
    * (the engine's top-k order); `keepScore` keeps the score column. */
  def topK(src: String, score: String = "cos_sim", keepScore: Boolean = true): Sql = {
    val kept = if (keepScore) s"$score, " else ""
    sql"""SELECT query_id, neighbor_id, ${kept}rank FROM (
      |  SELECT query_id, neighbor_id, $kept
      |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY $score DESC, neighbor_id) AS BIGINT) AS rank
      |  FROM $src)
      |WHERE rank <= 10"""
  }

  /** One SRP code array over the DOUBLE[] column `v` of the 64-dim
    * embeddings: element t is the `planes`-bit sign code of table t,
    * exactly [[graft.functions.SrpCode]]'s fold (ascending index, double
    * accumulate, `>= 0` sign test). Scala's Double.toString is
    * shortest-round-trip, so DuckDB parses back the identical bits. */
  def srpCodes(planes: Int, tables: Int): Sql = {
    val hp = Similarity.hyperplanes(64, planes, tables)
    val codes = (0 until tables).map { t =>
      (0 until planes).map { p =>
        val plane = hp(t)(p).mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $plane) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    }.mkString("[", ", ", "]")
    sql"$codes"
  }

  /** 16-table SRP codes at the plane count `p` that CTE `sizing`
    * replayed at run time. Each p has its own Random(42) plane layout;
    * p ∈ {2, 3, 4} covers the sizing rule's output at every verified
    * corpus size, and any other p codes NULL, so drift fails loudly. */
  def srpCodesSized(sizing: String): Sql =
    sql"""CASE (SELECT p FROM $sizing)
      |    WHEN 2 THEN ${srpCodes(2, 16)}
      |    WHEN 3 THEN ${srpCodes(3, 16)}
      |    WHEN 4 THEN ${srpCodes(4, 16)}
      |    END"""

  /** `<p>codes(vec_id, codes)` over `<p>e`, then the bucket explode
    * `<p>b(vec_id, tbl, bucket)`: one row per (vector, table). */
  def srpBucketCtes(codes: Sql, tables: Int, p: String = ""): Sql =
    sql"""${p}codes AS (SELECT vec_id, $codes AS codes FROM ${p}e),
      |${p}b AS (SELECT vec_id, i AS tbl, codes[i] AS bucket
      |      FROM ${p}codes CROSS JOIN generate_series(1, $tables) AS g(i))"""

  /** The standing corpus's size, `st(n)`: the ingest gates' vec_id % 10
    * < 8 side. */
  val StandingCountCte: String =
    "st AS (SELECT count(*) AS n FROM e WHERE vec_id % 10 < 8)"

  /** Similarity.srpPlanesFor(n, 128) replayed over `st` as CTE `name`:
    * the least p with n // 2^p ≤ 128. */
  def srpPlanesCte(name: String, n: String = "st.n"): Sql =
    sql"""$name AS (SELECT min(i) AS p FROM generate_series(1, 62) AS g(i), st
      |       WHERE $n // (1::BIGINT << i) <= 128)"""

  /** Similarity.hashCentroids(k, 64) rebuilt from md5 and integer
    * arithmetic, the portable-hash family: components `fcv(c, d, x)`,
    * vectors `fc(c, ctr)`. `where` filters the component series. */
  private def hashCentroidCtes(k: Int, where: String = ""): Sql =
    sql"""fcv AS MATERIALIZED (
      |  SELECT cd // 64 AS c, cd % 64 AS d,
      |         (CAST(${hash60("'hc:' || CAST(cd // 64 AS VARCHAR) || ':' || CAST(cd % 64 AS VARCHAR)")} % 256 AS DOUBLE)
      |          - CAST('127.5' AS DOUBLE)) / CAST('128.0' AS DOUBLE) AS x
      |  FROM generate_series(0, ${k * 64 - 1}) AS t(cd)$where),
      |fc AS MATERIALIZED (SELECT c, list(x ORDER BY d) AS ctr FROM fcv GROUP BY c)"""

  /** The runtime-sized quantizer of the rebuild gates (q_quantizer_rebuild,
    * q_stream_rebuild): the sizing rule k = (n + 127) // 128 replayed
    * from the standing count (`kk`), hashCentroids at that k (the series
    * covers k ≤ 64; [[SizedKSentinel]] maps a larger k to NULL), every
    * vector's top-2 cells (`asgn`) and the candidate `edges`. */
  val SizedQuantizerCtes: Sql = {
    val asgn = cellRank("vec_id, cell, crank", "<= 2", "e CROSS JOIN fc", "fc",
      cell = "c", c = "ctr")
    sql"""${embCte()},
      |$StandingCountCte,
      |kk AS (SELECT (n + 127) // 128 AS k FROM st),
      |${hashCentroidCtes(64, "\n  WHERE cd < (SELECT k FROM kk) * 64")},
      |asgn AS MATERIALIZED $asgn,
      |$CellEdgesCte"""
  }

  /** The rebuild gates' sentinel row carrying the replayed k, NULL when
    * k is past what [[SizedQuantizerCtes]] covers. */
  val SizedKSentinel: Sql =
    sql"""UNION ALL
      |SELECT CAST(-1 AS BIGINT) AS vec_id,
      |       CAST(CASE WHEN (SELECT k FROM kk) <= 64
      |                 THEN (SELECT k FROM kk) END AS BIGINT) AS cell"""

  /** The hierarchical gates' operating point (q_semdedup_hier and its
    * siblings): k = 4100 > FlatAssignCeiling hashCentroids cells,
    * coarsened by 8 driver Lloyd rounds, 2 coarse probes. */
  private[queries] val HierK = 4100
  private val HierRounds = 8

  /** The quantizer-rebuild CTE chain shared by the hierarchical oracles
    * (q_semdedup_hier, q_semdedup_ingest_hier, q_ann_ivf_hier,
    * q_stream_ingest_hier): the hashCentroids reconstruction (fcv/fc),
    * [[Similarity.coarsen]]'s driver Lloyd as unrolled MATERIALIZED CTE
    * pairs (a1..aR / m1..mR), and the float32-rounded coarse centers
    * (gc). Needs an upstream `e(vec_id, v)` CTE. The LAST round's
    * assignment aR is the cell→group map: coarsen returns the round-R
    * means but the round-R assignment, which was computed against the
    * round R−1 means, and this replays that faithfully. Each round's
    * cosine is coarsen's guarded two-division form, not [[cosine]]. */
  val HierQuantizerCtes: Sql = {
    val g = math.max(1, math.ceil(math.sqrt(HierK.toDouble)).toInt)
    val roundCtes = (1 to HierRounds).map { r =>
      sql"""a$r AS MATERIALIZED (
        |  SELECT c, j FROM (
        |    SELECT c, j, row_number() OVER (PARTITION BY c ORDER BY s DESC, j) AS rn
        |    FROM (SELECT fc.c, m.j,
        |            CASE WHEN list_dot_product(m.m, m.m) = 0 OR list_dot_product(fc.ctr, fc.ctr) = 0
        |                 THEN CAST('-2.0' AS DOUBLE)
        |                 ELSE list_dot_product(m.m, fc.ctr) / sqrt(list_dot_product(m.m, m.m)) / sqrt(list_dot_product(fc.ctr, fc.ctr)) END AS s
        |          FROM fc CROSS JOIN m${r - 1} m))
        |  WHERE rn = 1),
        |m$r AS MATERIALIZED (
        |  SELECT mp.j, coalesce(nm.m, mp.m) AS m
        |  FROM m${r - 1} mp LEFT JOIN (
        |    SELECT j, list(mx ORDER BY d) AS m
        |    FROM (SELECT a.j, fcv.d, sum(fcv.x) / count(*) AS mx
        |          FROM a$r a JOIN fcv ON fcv.c = a.c GROUP BY a.j, fcv.d)
        |    GROUP BY j) nm ON nm.j = mp.j)"""
    }.mkString(",\n")
    sql"""${hashCentroidCtes(HierK)},
      |m0 AS MATERIALIZED (SELECT j, (SELECT ctr FROM fc WHERE c = least($HierK - 1, (j * $HierK) // $g)) AS m
      |       FROM generate_series(0, ${g - 1}) AS t(j)),
      |$roundCtes,
      |gc AS (SELECT j, list_transform(m, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS gm FROM m$HierRounds)"""
  }

  /** Two-level (coarse→fine) assignment CTE pair on top of
    * [[HierQuantizerCtes]], [[Similarity.assignCellsHierarchical]]'s
    * probe path: rank the coarse groups (top 2, group-id tie-break),
    * then rank ONLY the probed groups' fine centroids (top `fineProbes`,
    * cell tie-break). `srcFilter` restricts the assigned rows (the ANN
    * query side); CTE names carry prefix `p` so corpus and query chains
    * compose in one oracle. */
  def hierAssignCtes(p: String, srcFilter: String, fineProbes: Int,
                     keepRank: Boolean = false): Sql = {
    val rankCol = if (keepRank) ", CAST(rn AS BIGINT) AS rank" else ""
    sql"""${p}pg AS (SELECT vec_id, j FROM (
      |    SELECT e.vec_id, gc.j,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        ${cosine("e.v", "gc.gm")} DESC, gc.j) AS rn
      |    FROM e CROSS JOIN gc$srcFilter) WHERE rn <= 2),
      |${p}asgn AS MATERIALIZED (SELECT vec_id, cell$rankCol FROM (
      |    SELECT pg.vec_id, fc.c AS cell,
      |      row_number() OVER (PARTITION BY pg.vec_id ORDER BY
      |        ${cosine("e.v", "fc.ctr")} DESC, fc.c) AS rn
      |    FROM ${p}pg pg JOIN a$HierRounds cg ON cg.j = pg.j JOIN fc ON fc.c = cg.c JOIN e ON e.vec_id = pg.vec_id)
      |  WHERE rn <= $fineProbes)"""
  }

  /** The hierarchical tier's probed assignment over all ids: every
    * vector's top-2 fine cells with their `rank`. */
  val HierProbedCtes: Sql =
    sql"""${embCte()},
      |$HierQuantizerCtes,
      |${hierAssignCtes("", "", 2, keepRank = true)}"""

  /** The recursive min-id closure over the undirected edges of
    * `pairs(id1, id2)`: each `key` row of `nodes` reaches itself and
    * whatever its neighbours reach. Needs `WITH RECURSIVE`;
    * [[clusterIds]] reads it. */
  def closureCtes(pairs: String, key: String, nodes: String): Sql =
    sql"""edges AS (SELECT id1 AS a, id2 AS b FROM $pairs
      |          UNION ALL SELECT id2, id1 FROM $pairs),
      |reach AS (
      |  SELECT $key AS id, $key AS r FROM $nodes
      |  UNION
      |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b)"""

  /** Each node's cluster over [[closureCtes]]: the least id it reaches,
    * the engine's connected-components contract. */
  def clusterIds(key: String): Sql =
    sql"""SELECT id AS $key, CAST(min(r) AS BIGINT) AS cluster_id
      |FROM reach GROUP BY id"""
}
