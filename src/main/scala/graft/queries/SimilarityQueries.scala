package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.{IvfCentroids, PqCodebooks, Similarity}
import OracleSql._

/** ANN search over the `embeddings` table (64-dim float vectors).
  * Queries = every 50th vector; k = 10.
  *
  * ALL of the cosine family is DuckDB-oracle-verified, including the
  * SRP-LSH paths: the fixed-seed hyperplanes are engine-side constants
  * (`Similarity.hyperplanes`, Random(42)), so the oracle interpolates
  * the SAME doubles as DuckDB list literals and replays each plane's
  * sign test with `list_dot_product` — already proven bit-identical to
  * the engine's sequential double fold by q_ann_brute (both engines
  * accumulate left-to-right in double). Same SigList/SimhashPack
  * technique that graduated MinHash/SimHash (DedupQueries).
  */
object SimilarityQueries {

  /** `<p>scored(query_id, neighbor_id, cos_sim)`: the exact cosine of
    * each candidate pair of `cand` (a `cand`-aliased relation). */
  private def scoredCte(p: String, cand: String): Sql =
    sql"""${p}scored AS (
      |  SELECT query_id, neighbor_id, ${cosine("qe.v", "ce.v")} AS cos_sim
      |  FROM $cand JOIN ${p}e qe ON qe.vec_id = cand.query_id
      |            JOIN ${p}e ce ON ce.vec_id = cand.neighbor_id)"""

  /** The frozen [[graft.operators.IvfCentroids]] assignment of both
    * search sides over `src` (an `e` and a `cents` relation): corpus
    * rows to their rank-1 cell (`<p>casgn`), query rows (every 50th) to
    * their top-`nprobe` cells (`<p>qasgn`). */
  private def ivfAsgnCtes(p: String, nprobe: Int, src: String): Sql =
    sql"""${p}cents AS (${IvfCentroids.duckdbValues}),
      |${p}casgn AS ${cellRank("vec_id AS neighbor_id, cell", "<= 1", src)},
      |${p}qasgn AS ${cellRank("vec_id AS query_id, cell", s"<= $nprobe", s"$src WHERE e.vec_id % 50 = 0")}"""

  /** IVF-search CTE chain, parameterized by nprobe — replays the frozen
    * centroid assignment ([[ivfAsgnCtes]]) and the cell-keyed candidate
    * join. Every CTE name carries prefix `p` so two chains (or this plus
    * the brute chain) compose in ONE oracle without collisions
    * (q_ann_recall); the chain ends in `${p}topk` with
    * (query_id, neighbor_id, cos_sim, rank ≤ 10). */
  private def ivfTopkCtes(nprobe: Int, p: String): Sql =
    sql"""${embCte(p)},
      |${ivfAsgnCtes(p, nprobe, s"${p}e e CROSS JOIN ${p}cents cents")},
      |${p}cand AS (
      |  SELECT DISTINCT q.query_id, c.neighbor_id
      |  FROM ${p}qasgn q JOIN ${p}casgn c ON q.cell = c.cell
      |  WHERE q.query_id <> c.neighbor_id),
      |${scoredCte(p, s"${p}cand cand")},
      |${p}topk AS (
      |  ${topK(s"${p}scored")})"""

  private def ivfOracleSql(nprobe: Int): Sql =
    sql"""WITH ${ivfTopkCtes(nprobe, "")}
      |SELECT query_id, neighbor_id, cos_sim, rank FROM topk"""

  /** Brute-force top-10 CTE chain (the q_ann_brute query body), prefix
    * `p` as in [[ivfTopkCtes]]; ends in `${p}topk`. */
  private def bruteTopkCtes(p: String): Sql =
    sql"""${p}q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id % 50 = 0),
      |${p}c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      |${p}scored AS (
      |  SELECT query_id, neighbor_id,
      |         ${cosine("qv", "cv")} AS cos_sim
      |  FROM ${p}q, ${p}c WHERE query_id <> neighbor_id),
      |${p}topk AS (
      |  ${topK(s"${p}scored")})"""

  /** SRP-LSH candidate chain over `tables` tables of 4-plane codes,
    * prefix `p`: the query rows (every 50th) join the corpus on any
    * shared (table, bucket) and the candidates are scored exactly; ends
    * in `<p>scored`. `multiprobe` also probes each query's 4 codes one
    * bit away (xor over the same interpolated hyperplanes). */
  private def lshScoredCtes(p: String, tables: Int, multiprobe: Boolean = false): Sql = {
    val (qb, qSrc, qFilter) =
      if (multiprobe) (
        sql"""qb AS (SELECT vec_id, tbl,
          |         unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS bucket
          |       FROM b WHERE vec_id % 50 = 0),
          |""", "qb", "")
      else ("", s"${p}b", "q.vec_id % 50 = 0 AND ")
    sql"""${embCte(p)},
      |${srpBucketCtes(srpCodes(4, tables), tables, p)},
      |$qb${p}cand AS (
      |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      |  FROM $qSrc q JOIN ${p}b c ON q.tbl = c.tbl AND q.bucket = c.bucket
      |  WHERE ${qFilter}q.vec_id <> c.vec_id),
      |${scoredCte(p, if (p.isEmpty) "cand" else s"${p}cand cand")}"""
  }

  /** SRP near-dup pairs over `b`: pairs sharing a (table, bucket) at
    * exact cosine ≥ 0.4, as (id1 < id2) pairs or, for `ingest`, as
    * (corpus_id, new_id) pairs across the standing (vec_id % 10 < 8) and
    * batch sides. */
  private def srpPairsSql(ingest: Boolean): Sql = {
    val (id1, id2, pair) =
      if (ingest) ("corpus_id", "new_id", "\n  WHERE a.vec_id % 10 < 8 AND b2.vec_id % 10 >= 8")
      else ("id1", "id2", " AND a.vec_id < b2.vec_id")
    sql"""cand AS (
      |  SELECT DISTINCT a.vec_id AS $id1, b2.vec_id AS $id2
      |  FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket$pair)
      |SELECT $id1, $id2, cos_sim FROM (
      |  SELECT $id1, $id2,
      |         ${cosine("qe.v", "ce.v")} AS cos_sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.$id1
      |            JOIN e ce ON ce.vec_id = cand.$id2)
      |WHERE cos_sim >= 0.4"""
  }

  /** Shared PQ oracle CTEs: frozen-codebook assignment (score =
    * list_dot_product − half_cc, lowest-code tie-break) folded to one
    * row per vector with codes + reconstruction norm. The cc pivot
    * sums in FIXED subspace order — the same ((cc0+cc1)+cc2)+cc3 fold
    * [[graft.operators.Pq.encode]] runs. */
  private val PqCtes =
    sql"""${embCte()},
      |cb AS (${PqCodebooks.duckdbValues}),
      |sub AS (SELECT e.vec_id, t.m, list_slice(e.v, t.m*16+1, t.m*16+16) AS sv
      |        FROM e CROSS JOIN (VALUES (0), (1), (2), (3)) t(m)),
      |asgn AS (
      |  SELECT vec_id, m, code, cc FROM (
      |    SELECT s.vec_id, s.m, cb.code, cb.cc,
      |           row_number() OVER (PARTITION BY s.vec_id, s.m
      |             ORDER BY list_dot_product(s.sv, cb.c) - cb.half_cc DESC, cb.code) AS rk
      |    FROM sub s JOIN cb ON cb.m = s.m)
      |  WHERE rk = 1),
      |pqcodes AS (
      |  SELECT vec_id,
      |         CAST(max(CASE WHEN m = 0 THEN code END) AS BIGINT) AS code_0,
      |         CAST(max(CASE WHEN m = 1 THEN code END) AS BIGINT) AS code_1,
      |         CAST(max(CASE WHEN m = 2 THEN code END) AS BIGINT) AS code_2,
      |         CAST(max(CASE WHEN m = 3 THEN code END) AS BIGINT) AS code_3,
      |         sqrt(((max(CASE WHEN m = 0 THEN cc END) + max(CASE WHEN m = 1 THEN cc END))
      |               + max(CASE WHEN m = 2 THEN cc END)) + max(CASE WHEN m = 3 THEN cc END)) AS recon_norm
      |  FROM asgn GROUP BY vec_id)"""

  /** ADC scoring CTEs on top of [[PqCtes]]: the norm of the `qFilter`
    * query rows (q) and the 4-lookup fixed-order score of every code row
    * `join`ed to a query `qa` and kept by `where` (adc) —
    * list_dot_product(q_sub, centroid) replays the engine's per-query
    * LUT entries exactly. */
  private def pqAdcCtes(qFilter: String, join: Sql, where: String,
                        qa: String = "q"): Sql =
    sql"""q AS (SELECT vec_id AS query_id, v AS qv, ${norm("v")} AS qnorm
      |      FROM e WHERE $qFilter),
      |adc AS (
      |  SELECT $qa.query_id, x.vec_id AS neighbor_id,
      |         (((list_dot_product(list_slice(q.qv, 1, 16), b0.c)
      |            + list_dot_product(list_slice(q.qv, 17, 32), b1.c))
      |            + list_dot_product(list_slice(q.qv, 33, 48), b2.c))
      |            + list_dot_product(list_slice(q.qv, 49, 64), b3.c))
      |           / (q.qnorm * x.recon_norm) AS adc_sim
      |  FROM pqcodes x$join
      |  JOIN cb b0 ON b0.m = 0 AND b0.code = x.code_0
      |  JOIN cb b1 ON b1.m = 1 AND b1.code = x.code_1
      |  JOIN cb b2 ON b2.m = 2 AND b2.code = x.code_2
      |  JOIN cb b3 ON b3.m = 3 AND b3.code = x.code_3
      |  WHERE $where)"""

  /** [[PqCtes]] and the ADC score of every (query, other vector) pair. */
  private val PqSearchCtes =
    sql"""$PqCtes,
      |${pqAdcCtes("vec_id % 50 = 0", sql" CROSS JOIN q", "x.vec_id <> q.query_id")}"""

  /** The ADC shortlist (top `shortlist` per query by adc_sim) re-ranked
    * by exact cosine to the top 10. */
  private def pqRerankSql(shortlist: Int): Sql =
    sql"""short AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |           row_number() OVER (PARTITION BY query_id ORDER BY adc_sim DESC, neighbor_id) AS rk
      |    FROM adc)
      |  WHERE rk <= $shortlist),
      |rescored AS (
      |  SELECT s.query_id, s.neighbor_id, ${cosine("qe.v", "ce.v")} AS cos_sim
      |  FROM short s JOIN e qe ON qe.vec_id = s.query_id
      |               JOIN e ce ON ce.vec_id = s.neighbor_id)
      |${topK("rescored")}"""

  /** KMeansOps.lloydStep's fixed-point-exact per-dimension mean: integer
    * sums of floor(x · 2^30), then ONE IEEE division. */
  private val FixedPointMean =
    sql"""CAST(SUM(CAST(floor(x * 1073741824.0) AS BIGINT)) AS DOUBLE)
      |         / (CAST(count(*) AS DOUBLE) * 1073741824.0)"""

  /** `rounds` Lloyd updates from the frozen IVF centroids, unrolled one
    * round builder per round (KMeansOps.lloydIterate): round r assigns
    * each vector its rank-1 cell under `cents<tag(r-1)>` and explodes it
    * per dimension (`ex<tag(r)>`); every round but the last folds the
    * means into the next centroid table. The output is the last round's
    * means with their member counts. */
  private def lloydOracleSql(rounds: Int, tag: Int => String): Sql = {
    val steps = (1 to rounds).map { r =>
      val (cents, t) = (s"cents${tag(r - 1)}", tag(r))
      val round =
        sql"""asgn$t AS ${cellRank("vec_id, v, cell", "= 1", s"e CROSS JOIN $cents", cents, carryV = true)},
          |ex$t AS (
          |  SELECT cell,
          |         unnest([{'pos': i - 1, 'x': v[i]} for i in generate_series(1, 64)],
          |                recursive := true)
          |  FROM asgn$t)"""
      if (r == rounds) round
      else
        sql"""$round,
          |upd$t AS (
          |  SELECT cell, pos,
          |         $FixedPointMean AS c
          |  FROM ex$t GROUP BY cell, pos),
          |cents$t AS (SELECT cell, list(c ORDER BY pos) AS c FROM upd$t GROUP BY cell)"""
    }.mkString(",\n")
    sql"""WITH ${embCte()},
      |cents${tag(0)} AS (${IvfCentroids.duckdbValues}),
      |$steps
      |SELECT CAST(cell AS BIGINT) AS cell, CAST(pos AS BIGINT) AS pos,
      |       $FixedPointMean AS c_new,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM ex${tag(rounds)} GROUP BY cell, pos"""
  }

  /** The frozen >FlatAssignCeiling operating point for q_semdedup_hier:
    * hash-derived deterministic quantizer (k = 4100 > 4096 forces the
    * two-level tier; the corpus is gate-SF-sized, so this is a CODE-PATH
    * gate, not a sizing claim — SCALE.md carries the sizing evidence).
    * Lazy: 262k driver-side md5 calls, computed once per JVM. */
  private[queries] lazy val HierCentroids =
    Similarity.hashCentroids(HierK, 64)

  /** The single-batch survivor rule over `asgn`: the rows `rank`
    * admits, minus the higher id of every intra-cell edge. A pair is a
    * candidate when ANY probed cell is shared; the duplicate pair a
    * shared-both-cells twin generates is absorbed by NOT IN. */
  private def survivorSql(rank: String): Sql =
    sql"""edges AS ${cellEdges(" AND a.vec_id < b.vec_id")}
      |SELECT vec_id, CAST(cell AS BIGINT) AS cell
      |FROM asgn
      |WHERE ${rank}vec_id NOT IN (SELECT id2 FROM edges)"""

  /** The ingest survivor rule on the batch side (vec_id % 10 >= 8) of a
    * probed `asgn`, ranked by column `rank`: a batch id is dropped on an
    * edge to ANY standing id or to a SMALLER batch id. */
  private def ingestSurvivorSql(rank: String): Sql = {
    val intra = cellEdges(" AND a.vec_id < b.vec_id",
      "a.vec_id % 10 >= 8 AND b.vec_id % 10 >= 8\n    AND ")
    val cross = cellEdges("", "a.vec_id % 10 < 8 AND b.vec_id % 10 >= 8\n    AND ",
      "a.vec_id AS corpus_id, b.vec_id AS new_id")
    sql"""edges_int AS $intra,
      |edges_corpus AS $cross
      |SELECT vec_id, CAST(cell AS BIGINT) AS cell
      |FROM asgn
      |WHERE $rank = 1 AND vec_id % 10 >= 8
      |  AND vec_id NOT IN (SELECT id2 FROM edges_int)
      |  AND vec_id NOT IN (SELECT new_id FROM edges_corpus)"""
  }

  /** DuckDB replay of the FULL hierarchical semantic-dedup chain:
    * [[Similarity.hashCentroids]] (md5 + integer arithmetic — the
    * portable-hash family) → [[Similarity.coarsen]]'s driver Lloyd
    * (8 unrolled MATERIALIZED CTE pairs, the q_bpe_train pattern) →
    * two-level coarse→fine assignment → intra-cell dup edges → min-id
    * survivor rule, all from [[OracleSql.HierProbedCtes]]. Bit-exactness
    * rests on two pillars: every hashCentroids component is a dyadic
    * rational, so Lloyd's per-round means (always recomputed from the
    * ORIGINALS) are order-independent exact under plain `sum()`; and
    * every cosine is a sequential ascending-index fold on both engines
    * (list_dot_product ≡ the fused CosineSimilarity loop). Faithful
    * corners: coarsen's `dot/sqrt/sqrt` two-division form with the
    * −2.0 zero-norm guard vs CosineSimilarity's `dot/(sqrt·sqrt)`; the
    * returned grouping is the LAST round's assignment (computed against
    * round R−1 means) while the returned coarse centers are the round-R
    * means, float32-rounded. The candidate rule is the two-probe
    * boundary-pair rule ([[SemDedup.dedupHier]] default, r13 verdict
    * task 1): each id probes its top-2 fine cells and the survivor
    * output is the rank-1 assignment ([[survivorSql]]). */
  private val hierOracleSql =
    sql"""WITH $HierProbedCtes,
      |${survivorSql("rank = 1 AND ")}"""

  /** The hierarchical INGEST rule ([[SemDedup.dedupIngestHier]]): the
    * same quantizer rebuild + two-level probed assignment as
    * [[hierOracleSql]] over ALL ids (assignment is per-row against the
    * centroids alone, so assigning the sides separately ≡ restricting
    * one full assignment), then the ingest survivor rule on the batch
    * side ([[ingestSurvivorSql]]). */
  private val hierIngestOracleSql =
    sql"""WITH $HierProbedCtes,
      |${ingestSurvivorSql("rank")}"""

  /** DuckDB replay of the FROZEN hierarchical ANN SERVING path
    * (q_ann_ivf_hier — [[Similarity.ivfTopKFrozenHier]]): the same
    * quantizer rebuild + two-level assignment as [[hierOracleSql]], but
    * run on BOTH sides of the search — corpus rank-1 cells, query
    * top-`nprobe` cells — then the cell-keyed candidate join, exact
    * cosine, and the q_ann_ivf top-10 rank (cos DESC, neighbor
    * tie-break). The assignment CTEs are the exactness-critical part
    * and they are shared verbatim with the dedup-side oracle. */
  private def hierAnnOracleSql(nprobe: Int): Sql =
    sql"""WITH ${embCte()},
      |$HierQuantizerCtes,
      |${hierAssignCtes("c", "", 1)},
      |${hierAssignCtes("q", " WHERE e.vec_id % 50 = 0", nprobe)},
      |cand AS (
      |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      |  FROM qasgn q JOIN casgn c ON q.cell = c.cell
      |  WHERE q.vec_id <> c.vec_id),
      |${scoredCte("", "cand")}
      |${topK("scored")}"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // Incremental ANN ingest: the new batch (vec_id % 13 = 0) searches
    // the standing corpus through its STORED PQ code table (encoded
    // once at the corpus's own ingest), shortlist 50, exact cosine
    // re-rank on the shortlist only — the semantic-novelty gate a
    // 100 TB pipeline runs per arriving batch. Oracle replays encode +
    // ADC + shortlist + re-rank restricted to batch×corpus: no
    // corpus×corpus and no batch×batch pairs, mirroring
    // Pq.adcIngestTopK's stored-index search.
    "q_ann_ingest" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val corpus = emb.filter(col("vec_id") % 13 =!= 0)
        val storedCodes = graft.operators.Pq.encode(corpus, "vec_id", "embedding")
        graft.operators.Pq.adcIngestTopK(
          storedCodes, corpus, emb.filter(col("vec_id") % 13 === 0),
          "vec_id", "embedding", k = 10, shortlist = 50)
      },
      sql"""WITH $PqCtes,
        |${pqAdcCtes("vec_id % 13 = 0", sql" CROSS JOIN q", "x.vec_id % 13 <> 0")},
        |${pqRerankSql(50)}"""),

    // PQ codes for every vector — 64-dim float (256 B) → 4 nibbles
    // (2 B packed) + the reconstruction norm ADC needs. Pure narrow
    // projection (PlanAuditSpec pins it Exchange-free); hash-verified
    // against the DuckDB replay of the frozen-codebook assignment.
    "q_pq_encode" -> QueryDef(
      (s, dir) => graft.operators.Pq.encode(
        Tables.embeddings(s, dir), "vec_id", "embedding"),
      sql"""WITH $PqCtes
        |SELECT vec_id, code_0, code_1, code_2, code_3,
        |       ((code_0 * 16 + code_1) * 16 + code_2) * 16 + code_3 AS pq_code,
        |       recon_norm
        |FROM pqcodes"""),

    // Pure asymmetric-distance search: candidates scored from codes +
    // per-query LUTs only (4 lookups + 3 adds per pair — never a
    // 64-mult dot), cosine against the reconstruction. Recall@10 0.24
    // on this corpus (2-byte codes on near-orthogonal random vectors —
    // PqSpec pins the floor); the rerank variant below is the quality
    // posture. Hash-verified: the oracle replays encode AND the ADC
    // fold bit-exactly.
    "q_ann_pq" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.operators.Pq.adcTopK(
          emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 10)
      },
      sql"""WITH $PqSearchCtes
        |${topK("adc", "adc_sim")}"""),

    // ADC shortlist-100 + exact cosine re-rank — the production IVFADC
    // posture (quantized scan nominates, exact scoring confirms):
    // recall@10 0.24 → 0.74 at 1/5 of the corpus exactly scored.
    "q_ann_pq_rerank" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.operators.Pq.adcTopKRerank(
          emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 10, shortlist = 100)
      },
      sql"""WITH $PqSearchCtes,
        |${pqRerankSql(100)}"""),

    // IVFADC — the production composition (FAISS's default server
    // architecture): frozen coarse cells prune WHICH vectors a query
    // scores (nprobe=8 of 16), PQ codes shrink WHAT scoring reads,
    // exact cosine re-ranks only the shortlist. Every stage is the
    // same hash-verified arithmetic as its standalone query; the
    // composition is oracle-verified end to end.
    "q_ann_ivfpq" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.operators.Pq.ivfAdcTopK(
          emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 10, nprobe = 8, shortlist = 100)
      },
      {
        val cells = sql"""
          |  JOIN casgn c ON c.neighbor_id = x.vec_id
          |  JOIN qasgn qa ON qa.cell = c.cell
          |  JOIN q ON q.query_id = qa.query_id"""
        sql"""WITH $PqCtes,
          |${ivfAsgnCtes("", 8, "e CROSS JOIN cents")},
          |${pqAdcCtes("vec_id % 50 = 0", cells, "x.vec_id <> qa.query_id", "qa")},
          |${pqRerankSql(100)}"""
      }),

    // Symmetric int8 quantization (see Similarity.quantizeInt8) — the
    // typed ARRAY<LONG> stays on the operator API; the registry projects
    // a joined string (driver canonicalization cannot hash array cells).
    "q_embed_quantize" -> QueryDef(
      (s, dir) => {
        val q = Similarity.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")
        q.select(col("vec_id"), col("maxabs"),
          array_join(transform(col("q8"), _.cast("string")), ",").as("q8"))
      },
      sql"""WITH m AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
        |  FROM embeddings)
        |SELECT vec_id, maxabs,
        |       array_to_string(list_transform(v, x ->
        |         CAST(CASE WHEN maxabs = 0 THEN 0
        |              ELSE CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT) END AS VARCHAR)), ',') AS q8
        |FROM m"""),

    // JL random projection 64→8: the oracle interpolates the SAME
    // frozen gaussian rows and list_dot_product replays the engine's
    // sequential double fold bit-exactly (the q_ann_brute-proven
    // contract), so all 8 projected coordinates hash-verify — a dense
    // float transform verified to the last bit, not just a sign test.
    "q_embed_project" -> QueryDef(
      (s, dir) => Similarity.projectEmbeddings(
        Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64, outDim = 8),
      {
        val m = Similarity.projectionMatrix(64, 8)
        // '…'::DOUBLE per element: a bare 17-digit literal parses as
        // DECIMAL first and the two-step rounding lands 1 ulp off —
        // invisible to SRP's sign tests, fatal here where the dot
        // product IS the output (same lesson as q_ann_pq)
        val cols = (0 until 8).map { j =>
          s"list_dot_product(v, ${m(j).map(c => s"'$c'::DOUBLE").mkString("[", ", ", "]")}) AS p$j"
        }.mkString(",\n       ")
        sql"""WITH ${embCte()}
          |SELECT vec_id, $cols
          |FROM e"""
      }),

    "q_ann_brute" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 10)
      },
      sql"""WITH ${bruteTopkCtes("")}
        |SELECT query_id, neighbor_id, cos_sim, rank FROM topk"""),

    // Recall@10 of IVF(nprobe=4) against the brute-force ground truth —
    // the evaluation harness behind every ANN operating-point choice,
    // as a first-class oracle-checked query: both top-k chains run in
    // full on BOTH engines (prefixed CTE chains on the DuckDB side) and
    // the per-query hit count must agree exactly. Queries the IVF probe
    // set missed entirely surface with recall 0 through the left join —
    // never silently dropped. recall = n_hits/10, one IEEE division.
    "q_ann_recall" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qs = emb.filter(col("vec_id") % 50 === 0)
        Similarity.recallAtK(
          Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 10),
          Similarity.ivfTopKFrozen(emb, qs, "vec_id", "embedding", k = 10, nprobe = 4),
          qs, "vec_id", k = 10)
      },
      sql"""WITH ${bruteTopkCtes("b_")},
        |${ivfTopkCtes(4, "v_")},
        |hits AS (
        |  SELECT b.query_id, count(*) AS c
        |  FROM b_topk b JOIN v_topk v
        |    ON v.query_id = b.query_id AND v.neighbor_id = b.neighbor_id
        |  GROUP BY 1),
        |qs AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 50 = 0)
        |SELECT qs.query_id, CAST(coalesce(hits.c, 0) AS BIGINT) AS n_hits,
        |       CAST(coalesce(hits.c, 0) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall_at_k
        |FROM qs LEFT JOIN hits ON hits.query_id = qs.query_id"""),

    "q_ann_ivf" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.ivfTopKFrozen(
          emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 10, nprobe = 4)
      },
      ivfOracleSql(nprobe = 4)),

    // IVF at nprobe=8 — the high-recall end of the IVF curve (recall
    // 0.82 vs 0.56 at nprobe=4, pinned ≥0.6 in SimilaritySpec): same
    // frozen centroids, same cell-keyed join, 2× probed cells so
    // candidates ≈ corpus·8/16 per query. Registered so the full ANN
    // quality-vs-cost curve (lsh/lsh16/lsh_mp/ivf/ivf8/brute) is
    // driver-visible as CORRECTNESS rows, not spec-only.
    "q_ann_ivf8" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.ivfTopKFrozen(
          emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 10, nprobe = 8)
      },
      ivfOracleSql(nprobe = 8)),

    // Embedding-space near-dup pairs (SRP-LSH candidates + exact cosine
    // filter), hash-verified end to end: the oracle replays the 16×4
    // hyperplane sign codes from the interpolated constants, joins on
    // (table, bucket), and re-scores candidates with the same double
    // fold. Threshold 0.4 is the operating point for THIS corpus
    // (random embeddings top out at cosine ~0.51); real near-dup
    // corpora run 0.9+. The bucket cap is the production posture
    // against degenerate mass-duplicate inputs (a no-op on this corpus
    // — buckets are orders of magnitude smaller — so rows are unchanged
    // at any tested SF, which is what keeps the oracle exact).
    "q_embed_neardup" -> QueryDef(
      (s, dir) => graft.operators.Dedup.embeddingNearDups(
        Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64,
        threshold = 0.4, planes = 4, tables = 16,
        maxBucketSize = Some(100000)),
      sql"""WITH ${embCte()},
        |${srpBucketCtes(srpCodes(4, 16), 16)},
        |${srpPairsSql(ingest = false)}"""),

    // The SRP tier's INGEST gate (Dedup.embeddingNearDupsAgainst):
    // standing corpus (vec_id%10<8) carries its STORED srpIndex (tables
    // x n narrow code rows, no vector payload), the batch (%10>=8)
    // codes in-flight under the same frozen (planes, tables); a
    // candidate is any shared (table, bucket) across the sides, exact
    // cosine >= 0.4 on survivors only. Completes the ingest family's
    // third quantizer tier — beyond the 65536-cell ceiling, where a
    // billion-vector standing corpus actually lives. The oracle
    // replays the code construction for ALL ids (codes are per-row vs
    // frozen hyperplanes, so split coding ≡ restricted full coding)
    // and re-derives the cross-side candidate join + threshold.
    "q_embed_neardup_ingest" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val standing = emb.filter(col("vec_id") % 10 < 8)
        val batch = emb.filter(col("vec_id") % 10 >= 8)
        graft.operators.Dedup.embeddingNearDupsAgainst(
          standing,
          graft.operators.Dedup.srpIndex(standing, "vec_id", "embedding",
            dim = 64, planes = 4),
          batch, "vec_id", "embedding", dim = 64, threshold = 0.4,
          planes = 4, maxBucketSize = Some(100000))
      },
      sql"""WITH ${embCte()},
        |${srpBucketCtes(srpCodes(4, 16), 16)},
        |${srpPairsSql(ingest = true)}"""),

    // The standing-index RESIZE LIFECYCLE, end to end as one hash gate
    // (r14 verdict task 2): the SRP index's manifest says it was sized
    // when the corpus was a QUARTER of today's (planes frozen at
    // srpPlanesFor(n//4)), the staleness rule fires (srpPlanesFor is
    // log2-quantized, so a 4x growth always flips it at gate SFs), the
    // GATED rebuild re-encodes at srpPlanesFor(n), and ingest serves
    // from the rebuilt index — hash-matching an oracle that builds
    // FRESH at today's size, which is the rebuilt≡fresh-built proof.
    // The oracle replays the sizing rule itself twice from COUNT(*)
    // (p_old at n//4, p_new at n — the q_embed_neardup_auto pattern)
    // and codes with the p_new plane set; the sentinel row carries
    // (p_new, p_old), mapping an uncovered p_new to NULL so rule drift
    // can never pass vacuously. If the staleness rule ever said FRESH
    // here while p differs, the two sides' plane sets diverge and the
    // pair set hash-mismatches — the gate covers the rule, the gating,
    // and the rebuild in one row.
    "q_index_rebuild" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val standing = emb.filter(col("vec_id") % 10 < 8)
        val batch = emb.filter(col("vec_id") % 10 >= 8)
        val n = standing.count()
        val builtN = n / 4
        val mOld = graft.operators.Dedup.SrpManifest(builtN,
          graft.operators.Similarity.srpPlanesFor(builtN, 128), 16, 128)
        val (codes, m2) =
          if (graft.operators.Dedup.srpIndexStale(mOld, n))
            graft.operators.Dedup.srpIndexRebuild(standing, "vec_id",
              "embedding", 64, mOld, n)
          else
            (graft.operators.Dedup.srpIndex(standing, "vec_id", "embedding",
              64, mOld.planes), mOld)
        graft.operators.Dedup.embeddingNearDupsAgainst(
            standing, codes, batch, "vec_id", "embedding", dim = 64,
            threshold = 0.4, planes = m2.planes, maxBucketSize = Some(100000))
          .unionByName(s.range(1).select(
            lit(-1L).as("corpus_id"), lit(m2.planes.toLong).as("new_id"),
            lit(mOld.planes.toDouble).as("cos_sim")))
      },
      sql"""WITH ${embCte()},
        |$StandingCountCte,
        |${srpPlanesCte("pold", "(st.n // 4)")},
        |${srpPlanesCte("pnew")},
        |${srpBucketCtes(srpCodesSized("pnew"), 16)},
        |${srpPairsSql(ingest = true)}
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT) AS corpus_id,
        |       CAST(CASE WHEN (SELECT p FROM pnew) IN (2, 3, 4)
        |                 THEN (SELECT p FROM pnew) END AS BIGINT) AS new_id,
        |       CAST((SELECT p FROM pold) AS DOUBLE) AS cos_sim"""),

    // The quantizer tier's RESIZE LIFECYCLE — q_index_rebuild's sibling
    // on the semantic tier, driver-gating the OTHER standing artifact's
    // staleness rule + gated rebuild (StalenessSpec pins the mechanics;
    // this row makes them oracle evidence). The manifest says the
    // quantizer was sized when the corpus was an EIGHTH of today's
    // (k frozen at cellsFor(n/8)) — outside the 2× band at every gate
    // SF, so quantizerStale fires, probedIndexRebuild retrains at
    // cellsFor(n) on the deterministic hashCentroids trainer (the
    // q_semdedup_hier oracle-replayability posture) and re-assigns the
    // standing corpus (label migration), and ingest serves from the
    // REBUILT index. The oracle replays the sizing rule from COUNT(*)
    // ((n+127)//128), reconstructs hashCentroids at that RUNTIME k from
    // md5 integer arithmetic (the OracleSql hashCentroids fcv pattern over an
    // oversized constant series, filtered to k·64 — k > 64 maps the
    // sentinel to NULL so truncation can never pass silently), and
    // re-derives the full ingest rule. Hash match = stale-gate +
    // rebuild + re-assignment + ingest ≡ a fresh build at today's size.
    "q_quantizer_rebuild" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val standing = emb.filter(col("vec_id") % 10 < 8)
        val batch = emb.filter(col("vec_id") % 10 >= 8)
        val n = standing.count()
        val builtN = n / 8
        val mOld = graft.operators.SemDedup.QuantizerManifest(builtN,
          graft.operators.SemDedup.cellsFor(builtN), 2, 128)
        val (idx, cents, m2) =
          if (graft.operators.SemDedup.quantizerStale(mOld, n))
            graft.operators.SemDedup.probedIndexRebuild(standing, "vec_id",
              "embedding", mOld, n,
              k => graft.operators.Similarity.hashCentroids(k, 64))
          else {
            val c = graft.operators.Similarity.hashCentroids(mOld.k, 64)
            (graft.operators.SemDedup.probedIndex(standing, "vec_id",
              "embedding", c), c, mOld)
          }
        graft.operators.SemDedup.dedupIngest(standing, idx, batch,
            "vec_id", "embedding", threshold = 0.4, cents)
          .select(col("vec_id"), col("cell").cast("long").as("cell"))
          .unionByName(s.range(1).select(
            lit(-1L).as("vec_id"), lit(m2.k.toLong).as("cell")))
      },
      sql"""WITH $SizedQuantizerCtes
        |SELECT asgn.vec_id, CAST(asgn.cell AS BIGINT) AS cell
        |FROM asgn
        |WHERE crank = 1 AND vec_id % 10 >= 8
        |  AND vec_id NOT IN (SELECT id2 FROM edges
        |                     WHERE id1 % 10 >= 8 AND id2 % 10 >= 8 AND id1 < id2)
        |  AND vec_id NOT IN (SELECT id2 FROM edges
        |                     WHERE id1 % 10 < 8 AND id2 % 10 >= 8)
        |$SizedKSentinel"""),

    // The AUTO-SIZED near-dup path — the round-10 scale ladder's headline
    // fix graduated to a CORRECTNESS row: the engine learns n with one
    // count() and sizes planes = srpPlanesFor(n, 128); the oracle replays
    // the RULE ITSELF (smallest p with n // 2^p ≤ 128, from COUNT(*))
    // and branches into the full interpolated hyperplane set for that p
    // (each p has a DISTINCT Random(42) layout, so each branch carries
    // its own 16-table constants). Plane sets cover p ∈ {2,3,4} — the
    // rule's output at every verified corpus size (500 → 2, 2000 → 4)
    // plus the gap point. A p outside the covered range can NOT pass
    // vacuously (r11 ADVICE: NULL codes → zero oracle candidates could
    // coincide with a genuinely pair-free corpus): both sides emit a
    // SENTINEL row (id1 = -1) carrying the replayed p and COUNT(*) —
    // the oracle maps an uncovered p to NULL there, so rule drift or
    // an uncovered corpus size hash-mismatches on the sentinel even
    // when the pair set is empty on both sides. Same candidate join +
    // exact-cosine filter as q_embed_neardup, so the pair stands as
    // fixed-vs-auto evidence.
    "q_embed_neardup_auto" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // the sentinel's sizing inputs, computed ONCE and handed to
        // embeddingNearDupsAuto via knownCount (r12: the previous
        // exact-but-duplicate count() scanned the corpus twice per run)
        val n = emb.count()
        val p = graft.operators.Similarity.srpPlanesFor(n, 128)
        graft.operators.Dedup.embeddingNearDupsAuto(
          emb, "vec_id", "embedding", dim = 64,
          threshold = 0.4, tables = 16, targetBucketSize = 128,
          maxBucketSize = Some(100000), knownCount = Some(n))
          .unionByName(s.range(1).select(
            lit(-1L).as("id1"), lit(p.toLong).as("id2"),
            lit(n.toDouble).as("cos_sim")))
      },
      sql"""WITH ${embCte()},
        |pp AS (SELECT min(i) AS p FROM generate_series(1, 32) AS g(i)
        |       WHERE (SELECT count(*) FROM e) // (1::BIGINT << i) <= 128),
        |${srpBucketCtes(srpCodesSized("pp"), 16)},
        |${srpPairsSql(ingest = false)}
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT) AS id1,
        |       CAST(CASE WHEN (SELECT p FROM pp) IN (2, 3, 4)
        |                 THEN (SELECT p FROM pp) END AS BIGINT) AS id2,
        |       CAST((SELECT count(*) FROM e) AS DOUBLE) AS cos_sim"""),

    "q_ann_lsh" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.lshTopK(
          emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", dim = 64, k = 10, planes = 4)
      },
      sql"""WITH ${lshScoredCtes("", 8)}
        |${topK("scored")}"""),

    // ANN ensemble fusion: the IVF(nprobe=4) and SRP-LSH(8 tables)
    // top-10 lists fused per query by reciprocal rank (Retrieval
    // .rrfFuse keyed by (query_id, neighbor_id)) — the production
    // recall-rescue pattern when two index families miss DIFFERENT
    // neighbors (IVF loses cross-cell, LSH loses low-collision): the
    // union is re-ranked by consensus without score calibration. Both
    // arms' full chains replay on both engines; the fused score is the
    // fixed-order 1/(60+r) fold (IEEE-exact), missed-arm ranks are −1.
    // This also driver-gates rrfFuse's per-QUERY keyed path (q_hybrid
    // _rrf gates the single-query shape).
    "q_ann_fuse" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qs = emb.filter(col("vec_id") % 50 === 0)
        val ivf = Similarity.ivfTopKFrozen(
            emb, qs, "vec_id", "embedding", k = 10, nprobe = 4)
          .select(col("query_id"), col("neighbor_id"), col("rank").as("r"))
        val lsh = Similarity.lshTopK(
            emb, qs, "vec_id", "embedding", dim = 64, k = 10, planes = 4)
          .select(col("query_id"), col("neighbor_id"), col("rank").as("r"))
        graft.operators.Retrieval.rrfFuse(
            Seq(ivf, lsh), Seq("query_id", "neighbor_id"), "r", k = 60)
          .select(col("query_id"), col("neighbor_id"),
            col("rank_0").as("ivf_rank"), col("rank_1").as("lsh_rank"),
            col("rrf_score"))
      },
      sql"""WITH ${ivfTopkCtes(4, "v_")},
        |${lshScoredCtes("l_", 8)},
        |l_topk AS (
        |  ${topK("l_scored", keepScore = false)})
        |SELECT coalesce(i.query_id, l.query_id) AS query_id,
        |       coalesce(i.neighbor_id, l.neighbor_id) AS neighbor_id,
        |       CAST(coalesce(i.rank, -1) AS BIGINT) AS ivf_rank,
        |       CAST(coalesce(l.rank, -1) AS BIGINT) AS lsh_rank,
        |       (CASE WHEN i.rank IS NULL THEN CAST(0 AS DOUBLE)
        |             ELSE CAST(1.0 AS DOUBLE) / CAST(60 + i.rank AS DOUBLE) END)
        |       + (CASE WHEN l.rank IS NULL THEN CAST(0 AS DOUBLE)
        |              ELSE CAST(1.0 AS DOUBLE) / CAST(60 + l.rank AS DOUBLE) END) AS rrf_score
        |FROM v_topk i FULL JOIN l_topk l
        |  ON i.query_id = l.query_id AND i.neighbor_id = l.neighbor_id"""),

    // More-tables config: same SRP-LSH, 16 tables instead of 8 — the
    // middle of the quality-vs-cost curve (recall 0.87 measured, floor
    // 0.85 pinned in SimilaritySpec; 2× corpus replication, same keyed
    // (table,bucket) join shape). Oracle replays all 16 tables'
    // hyperplane constants. For the ≥0.9 serving endpoint see
    // q_ann_lsh_mp — multiprobe beats more tables on cost.
    "q_ann_lsh16" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.lshTopK(
          emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", dim = 64, k = 10, planes = 4, tables = 16)
      },
      sql"""WITH ${lshScoredCtes("", 16)}
        |${topK("scored")}"""),

    // The high-recall serving endpoint: 8 tables + Hamming-1 multiprobe
    // (recall 1.00 measured on this corpus, floor 0.9 pinned in
    // SimilaritySpec via the 16-table variant). Each query probes its
    // own bucket plus the 4 codes one bit away — fanout is on the
    // SMALL broadcast query side only, so this beats 16 tables (0.87)
    // at HALF the corpus replication. Oracle replays the probe
    // expansion with xor() over the same interpolated hyperplanes.
    "q_ann_lsh_mp" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.lshTopK(
          emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", dim = 64, k = 10,
          planes = 4, tables = 8, probes = 4)
      },
      sql"""WITH ${lshScoredCtes("", 8, multiprobe = true)}
        |${topK("scored")}"""),

    // One Lloyd update step from the frozen quantizer — the TRAINING
    // side of the IVF story, in-engine and hash-verified: assignment
    // replays the q_ann_ivf cell rule (max cosine, cell tie-break), the
    // centroid update is a fixed-point-exact per-dimension mean (see
    // KMeansOps.lloydStep — integer sums, ONE IEEE division at the end).
    "q_kmeans_step" -> QueryDef(
      (s, dir) =>
        graft.operators.KMeansOps.lloydStep(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          graft.operators.IvfCentroids.cells),
      lloydOracleSql(1, _ => "")),

    // Multi-round Lloyd fit (2 rounds from the frozen seed) — the full
    // in-engine training loop, hash-verified end to end. Round 2's
    // centroid table is round 1's k·dim aggregation re-entering as a
    // broadcast build (KMeansOps.lloydIterate — no collect, no driver
    // action between rounds). Bit-exact across engines because every
    // centroid component is a fixed-point-exact mean (integer sums, one
    // IEEE division) and CosineSimilarity now fuses mixed FLOAT-data /
    // DOUBLE-centroid loops with the same widen-then-fold order DuckDB
    // replays via list_dot_product.
    "q_kmeans_fit" -> QueryDef(
      (s, dir) =>
        graft.operators.KMeansOps.lloydIterate(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          graft.operators.IvfCentroids.cells, rounds = 2),
      lloydOracleSql(2, _.toString)),

    // SemDeDup (Abbas et al. 2023): semantic near-dup removal bounded
    // by the frozen IVF cells — candidates only WITHIN a cell (Σ|cell|²
    // work, the semantic-space analogue of the LSH bucket join), exact
    // cosine ≥ 0.4, min-id survivor per dup edge. The oracle replays
    // assignment (the q_ann_ivf cell rule), the intra-cell pair join,
    // the cosine threshold, and the anti join — the whole pipeline is
    // hash-verified, not sampled. Output = the kept corpus + its cell.
    "q_semdedup" -> QueryDef(
      (s, dir) => graft.operators.SemDedup.dedup(
        Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.4)
        .select(col("vec_id"), col("cell").cast("long").as("cell")),
      sql"""WITH ${embCte()},
        |cents AS (${IvfCentroids.duckdbValues}),
        |asgn AS ${cellRank("vec_id, cell", "= 1")},
        |${survivorSql("")}"""),

    // SemDedup.dedupProbed — the FLAT quantizer tier's boundary-pair
    // rule (r13 verdict task 1), hash-gated on the frozen IvfCentroids
    // operating point: each id probes its top-2 cells (crank <= 2,
    // same cosine rank as q_semdedup's assignment), a pair is a
    // candidate when ANY probed cell is shared, survivors = rank-1
    // assignment minus distinct higher-ids. This is the candidate rule
    // dedupAuto's flat tier now runs; q_semdedup keeps gating the
    // literal single-probe SemDeDup recipe beside it.
    "q_semdedup_probe2" -> QueryDef(
      (s, dir) => graft.operators.SemDedup.dedupProbed(
        Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.4)
        .select(col("vec_id"), col("cell").cast("long").as("cell")),
      sql"""WITH $FlatProbedCtes,
        |${survivorSql("crank = 1 AND ")}"""),

    // SemDedup.dedupIngest — the semantic tier's batch-vs-standing
    // entry point (the lshCandidatesAgainst shape): standing corpus =
    // vec_id%10<8 with its STORED probedIndex, batch = vec_id%10>=8
    // probed in-path under the same frozen quantizer. A batch id is
    // dropped on a >=0.4 edge to ANY standing id (standing always wins,
    // id order irrelevant across sides) or to a SMALLER batch id
    // (min-id within the batch). The oracle replays the probed
    // assignment once for all ids, splits the sides, and re-derives
    // both edge streams — the whole ingest rule is hash-verified.
    "q_semdedup_ingest" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val standing = emb.filter(col("vec_id") % 10 < 8)
        val batch = emb.filter(col("vec_id") % 10 >= 8)
        graft.operators.SemDedup.dedupIngest(
            standing,
            graft.operators.SemDedup.probedIndex(standing, "vec_id", "embedding"),
            batch, "vec_id", "embedding", threshold = 0.4)
          .select(col("vec_id"), col("cell").cast("long").as("cell"))
      },
      sql"""WITH $FlatProbedCtes,
        |${ingestSurvivorSql("crank")}"""),

    // The >FlatAssignCeiling tier of semantic dedup, hash-gated end to
    // end (r11 verdict task 2): the engine path is SemDedup.dedupHier →
    // Similarity.assignCellsHierarchical (coarsen's driver Lloyd + the
    // two-level coarse→fine probe) on the DETERMINISTIC hashCentroids
    // quantizer at k = 4100 > 4096 — the first cell count past the flat
    // assigner's ceiling. Since r14 the gated semantics is the tier's
    // NEW default: fineProbes = 2 boundary-pair candidates (any shared
    // probed cell), survivor output = rank-1 assignment — the r13
    // verdict-task-1 recall recovery, driver-gated here. The oracle
    // retrains the coarse Lloyd from scratch (8 unrolled rounds) and
    // replays assignment + the two-probe candidate rule + survivor
    // rule; see hierOracleSql for the exactness argument.
    "q_semdedup_hier" -> QueryDef(
      (s, dir) => graft.operators.SemDedup.dedupHier(
        Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.4,
        centroids = HierCentroids)
        .select(col("vec_id"), col("cell").cast("long").as("cell")),
      hierOracleSql, coalesceByBytes = true),

    // The hierarchical tier's INGEST gate: SemDedup.dedupIngestHier on
    // the same frozen k = 4100 > FlatAssignCeiling quantizer as
    // q_semdedup_hier — standing (vec_id%10<8) carries its STORED
    // probedIndexHier, the batch (%10>=8) assigns through the
    // two-level path in-flight. Past the flat ceiling this is the only
    // affordable batch assigner ((1+coarseProbes)·√k cosines/row vs
    // n_batch·k), and everything after assignment is tier-blind — the
    // q_semdedup_ingest rule verbatim. The oracle rebuilds the
    // quantizer (driver Lloyd, unrolled MATERIALIZED CTEs) and replays
    // the probed assignment once over all ids (per-row vs centroids
    // alone, so split assignment ≡ restricted full assignment), then
    // both edge streams and the standing-wins survivor rule.
    "q_semdedup_ingest_hier" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val standing = emb.filter(col("vec_id") % 10 < 8)
        val batch = emb.filter(col("vec_id") % 10 >= 8)
        graft.operators.SemDedup.dedupIngestHier(
            standing,
            graft.operators.SemDedup.probedIndexHier(
              standing, "vec_id", "embedding", HierCentroids),
            batch, "vec_id", "embedding", threshold = 0.4, HierCentroids)
          .select(col("vec_id"), col("cell").cast("long").as("cell"))
      },
      hierIngestOracleSql),

    // The hierarchical ANN SERVING branch's driver gate (r12 verdict
    // task 1): ivfTopKFrozenHier routes BOTH corpus and query sides
    // through Similarity.assignCellsHierarchical on the same frozen
    // k = 4100 > FlatAssignCeiling hashCentroids quantizer as
    // q_semdedup_hier, then the cell-keyed join + exact-cosine top-10.
    // nprobe = 64 keeps the candidate set non-vacuous on this corpus
    // (4100 cells over 500-2000 vectors leaves most cells empty; a
    // 4-probe row would gate almost nothing). The oracle retrains the
    // coarse Lloyd from scratch and replays coarse→fine assignment on
    // both sides — see hierAnnOracleSql.
    "q_ann_ivf_hier" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.ivfTopKFrozenHier(
          emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 10, nprobe = 64,
          centroids = HierCentroids)
      },
      hierAnnOracleSql(nprobe = 64)),

    // Scalar int8 quantization with per-vector abs-max calibration (the
    // faiss/llama.cpp Q8 shape, the MEMORY lever beside PQ): 4 B float →
    // 1 B code per dim, scale = one IEEE division, codes =
    // floor(x·scale + 0.5) — exact-rounded mult/add then exact floor, so
    // the float-derived codes hash-verify. approx_sq_norm exercises the
    // int8 serving kernel: exact BIGINT code dot, ONE float division by
    // scale² — on the unit-normalized corpus it replays ≈1 bit-exactly.
    "q_quant_int8" -> QueryDef(
      (s, dir) => {
        import graft.operators.Quant
        Quant.int8Codes(Tables.embeddings(s, dir), "vec_id", "embedding")
          .select(col("vec_id"), col("scale"),
            aggregate(col("q"), lit(0L), (a, b) => a + b).as("sum_q"),
            aggregate(col("q"), lit(0L), (a, b) => a + abs(b)).as("sum_abs_q"),
            array_max(transform(col("q"), x => abs(x))).as("max_abs_q"),
            Quant.dequantDot(col("q"), col("q"), col("scale"), col("scale"))
              .as("approx_sq_norm"))
      },
      sql"""WITH ${embCte()},
        |m AS (SELECT vec_id, v, list_max([abs(x) for x in v]) AS mx FROM e),
        |s AS (SELECT vec_id, v,
        |             CASE WHEN mx > 0 THEN CAST(127 AS DOUBLE) / mx ELSE CAST(0 AS DOUBLE) END AS scale
        |      FROM m),
        |q AS (SELECT vec_id, scale, [CAST(floor(x * scale + 0.5) AS BIGINT) for x in v] AS qs FROM s)
        |SELECT vec_id, scale,
        |       CAST(list_sum(qs) AS BIGINT) AS sum_q,
        |       CAST(list_sum([abs(x) for x in qs]) AS BIGINT) AS sum_abs_q,
        |       CAST(list_max([abs(x) for x in qs]) AS BIGINT) AS max_abs_q,
        |       CASE WHEN scale > 0
        |            THEN CAST(list_sum([qs[i] * qs[i] for i in generate_series(1, len(qs))]) AS DOUBLE) / (scale * scale)
        |            ELSE CAST(0 AS DOUBLE) END AS approx_sq_norm
        |FROM q""")
  )
}
