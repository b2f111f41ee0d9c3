package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.{Redact, Splits, TextPipeline}
import OracleSql._

/** Training-data curation surface over `documents`: benchmark
  * decontamination, passage-level boilerplate dedup, repetition quality
  * signals, sequence chunking, and stratified deterministic sampling.
  * Every query is DuckDB-oracle-verified — all counts are exact
  * integers (BIGINT both sides), every ratio one IEEE division, and the
  * sampler rides the md5 portable hash family.
  */
object PipelineQueries {

  // SQL-fragment vals are declared BEFORE `defs` (object init order —
  // see CLAUDE.md: a val referenced before initialization interpolates
  // null into the SQL).

  /** 3-gram shingle CTEs, `sh(doc_id, shingle)`. */
  private val Shingle3Ctes = shingleCtes("doc_id")

  /** Positional passage/chunk CTE: non-overlapping `n`-token windows
    * with a 1-based pos (Spark's posexplode is 0-based; pos is only an
    * ordering key, never an output, except where re-based explicitly). */
  private def passageCtes(n: Int) =
    sql"""$ToksCte, p0 AS (
      |  SELECT doc_id, [{'pos': i, 'passage': array_to_string(t[(i-1)*$n+1:(i-1)*$n+$n], ' ')}
      |                  for i in generate_series(1, (len(t)+${n - 1})//$n)] AS ps
      |  FROM toks
      |), p AS (SELECT doc_id, unnest(ps, recursive := true) FROM p0)"""

  /** The ≥0.5-Jaccard 3-gram pair graph and its min-id closure over all
    * documents (needs `WITH RECURSIVE`). */
  private val JaccardClosureCtes =
    sql"""$Shingle3Ctes,
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |co AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT id1, id2 FROM co
      |  JOIN sizes s1 ON s1.doc_id = co.id1 JOIN sizes s2 ON s2.doc_id = co.id2
      |  WHERE common / (s1.sz + s2.sz - common) >= 0.5),
      |${closureCtes("pairs", "doc_id", "documents")}"""

  /** The per-source token budget's oracle: documents in portable-hash
    * order (doc_id tie-break) while the running token sum stays within
    * 800 — shared by the plain and the salted engine paths. */
  private val TokenBudgetSql =
    sql"""WITH $ToksCte,
      |n AS (
      |  SELECT d.doc_id, d.source, CAST(len(t.t) AS BIGINT) AS n_tokens,
      |         ${hash60("'graft-v1:' || CAST(d.doc_id AS VARCHAR)")} AS h
      |  FROM documents d JOIN toks t ON d.doc_id = t.doc_id),
      |c AS (
      |  SELECT doc_id, source, n_tokens,
      |         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS cum_tokens
      |  FROM n)
      |SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 800"""

  /** The packed token stream's per-document offsets,
    * `c(doc_id, n_tokens, tok_start)`: non-empty documents laid end to
    * end in doc_id order (an exclusive running sum). */
  private val PackedCtes =
    sql"""$ToksCte,
      |n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks WHERE len(t) > 0),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT) AS tok_start
      |  FROM n)"""

  /** Decontamination against the `doc_id % mod = 0` reference slice:
    * each other document's shared 3-grams and the reference documents
    * they hit (column `refCol`). */
  /** Redact.scrub's first two passes over `raw(<keep>, r)`: emails
    * tokenized into r1, then IPv4s into r2, as `s2(<keep>, r, r1, r2)`;
    * [[Scrubbed]] is the last pass, phones. */
  private def redactCtes(keep: String): Sql =
    sql"""s1 AS (SELECT $keep, r,
      |              regexp_replace(r, '${Redact.EmailPattern}', '${Redact.EmailToken}', 'g') AS r1
      |       FROM raw),
      |s2 AS (SELECT *, regexp_replace(r1, '${Redact.Ipv4Pattern}', '${Redact.Ipv4Token}', 'g') AS r2 FROM s1)"""

  private val Scrubbed = s"regexp_replace(r2, '${Redact.PhonePattern}', '${Redact.PhoneToken}', 'g')"

  /** Redact.counts' replay over [[redactCtes]]: emails, IPv4s and
    * phones, each counted in the text its pass rewrites. */
  private val RedactCounts: Seq[String] =
    Seq("r" -> Redact.EmailPattern, "r1" -> Redact.Ipv4Pattern, "r2" -> Redact.PhonePattern)
      .map { case (c, p) => s"len(regexp_extract_all($c, '$p'))" }

  private def decontamSql(mod: Int, refCol: String): Sql =
    sql"""WITH $Shingle3Ctes
      |SELECT a.doc_id,
      |       count(DISTINCT a.shingle) AS n_shared_ngrams,
      |       count(DISTINCT e.doc_id) AS $refCol
      |FROM sh a JOIN sh e ON a.shingle = e.shingle
      |WHERE a.doc_id % $mod <> 0 AND e.doc_id % $mod = 0
      |GROUP BY a.doc_id"""

  /** From-scratch recursive-closure CC over the full ≥0.5-Jaccard pair
    * graph — shared verbatim by q_dedup_clusters (engine: fixpoint
    * min-label) and q_incremental_cc (engine: contracted-graph
    * maintenance): one oracle, two engine paths, each hash match an
    * equivalence proof. */
  private val DedupClustersSql =
    sql"""WITH RECURSIVE $JaccardClosureCtes
      |${clusterIds("doc_id")}"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // Benchmark decontamination: training docs (doc_id % 97 <> 0)
    // sharing >= 1 word 3-gram with the eval slice (doc_id % 97 = 0).
    // Production default is 13-grams (GPT-3 rule); 3 here because the
    // synthetic corpus's vocabulary makes longer shingles collision-free.
    "q_decontaminate" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextPipeline.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", shingleN = 3)
      },
      decontamSql(97, "n_eval_docs")),

    // Passage-level corpus dedup: every copy of any 10-token passage
    // occurring more than once corpus-wide is dropped; survivors are
    // reassembled in document order.
    "q_passage_dedup" -> QueryDef(
      (s, dir) => TextPipeline.passageDedup(
        Tables.documents(s, dir), "doc_id", "text",
        passageTokens = 10, maxOccur = 1),
      sql"""WITH ${passageCtes(10)},
        |occ AS (SELECT passage, count(*) AS occ FROM p GROUP BY 1)
        |SELECT p.doc_id,
        |       count(*) AS n_passages,
        |       CAST(sum(CASE WHEN occ <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN occ <= 1 THEN p.passage END, ' ' ORDER BY p.pos), '') AS clean_text
        |FROM p JOIN occ ON p.passage = occ.passage
        |GROUP BY p.doc_id"""),

    // Gopher-family repetition signals: exact counts + IEEE ratios.
    "q_repetition_score" -> QueryDef(
      (s, dir) => TextPipeline.repetitionSignals(
        Tables.documents(s, dir), "doc_id", "text"),
      sql"""WITH $ToksCte,
        |tc AS (SELECT doc_id, token, count(*) AS c
        |       FROM (SELECT doc_id, unnest(t) AS token FROM toks) GROUP BY 1, 2),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_token_cnt
        |       FROM tc GROUP BY 1),
        |bc AS (SELECT doc_id, bigram, count(*) AS c
        |       FROM (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)]) AS bigram
        |             FROM toks WHERE len(t) >= 2) GROUP BY 1, 2),
        |bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |              count(*) AS n_distinct_bigrams
        |       FROM bc GROUP BY 1)
        |SELECT ts.doc_id, n_tokens, n_distinct,
        |       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
        |       top_token_cnt,
        |       CAST(top_token_cnt AS DOUBLE) / n_tokens AS top_token_frac,
        |       coalesce(n_bigrams, 0) AS n_bigrams,
        |       coalesce(n_distinct_bigrams, 0) AS n_distinct_bigrams,
        |       CASE WHEN n_bigrams IS NOT NULL
        |            THEN 1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams
        |            ELSE 0.0 END AS dup_bigram_frac
        |FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id"""),

    // Fixed-size sequence chunking (LLM data-loader pre-packing).
    "q_seq_chunks" -> QueryDef(
      (s, dir) => TextPipeline.chunk(
        Tables.documents(s, dir), "doc_id", "text", chunkTokens = 32),
      sql"""WITH ${passageCtes(32)}
        |SELECT doc_id,
        |       CAST(pos - 1 AS BIGINT) AS chunk_idx,
        |       CAST(least(32, len(t) - (pos-1)*32) AS BIGINT) AS n_tokens,
        |       passage AS chunk_text
        |FROM p JOIN toks USING (doc_id)"""),

    // Overlapping 32/16 sliding chunks — the RAG retrieval-window
    // variant of q_seq_chunks: consecutive chunks share 16 tokens of
    // context, so a passage straddling a tiling boundary still appears
    // intact in some window. The oracle rebuilds every window with
    // DuckDB list slicing over the scalar strided generate_series
    // (the LIST form — the lateral table function is the one DuckDB
    // doesn't support; see CLAUDE.md).
    "q_rag_chunks" -> QueryDef(
      (s, dir) => TextPipeline.slidingChunks(
        Tables.documents(s, dir), "doc_id", "text",
        windowTokens = 32, strideTokens = 16),
      sql"""WITH $ToksCte,
        |c0 AS (
        |  SELECT doc_id, [{'pos': i,
        |                   'start_tok': CAST((i-1)*16 AS BIGINT),
        |                   'n_tokens': CAST(least(32, len(t) - (i-1)*16) AS BIGINT),
        |                   'chunk_text': array_to_string(t[(i-1)*16+1:(i-1)*16+32], ' ')}
        |                  for i in generate_series(1, (len(t)+15)//16)] AS cs
        |  FROM toks WHERE len(t) > 0
        |), c AS (SELECT doc_id, unnest(cs, recursive := true) FROM c0)
        |SELECT doc_id, CAST(pos - 1 AS BIGINT) AS chunk_idx, start_tok, n_tokens, chunk_text
        |FROM c"""),

    // Dedup clusters: connected components over the exact 3-gram
    // Jaccard >= 0.5 pair graph — the transitive closure pairwise dedup
    // alone cannot give (a–b, b–c collapse into one cluster without an
    // a–c pair). Min-label propagation to a fixpoint; the oracle replays
    // it as a recursive transitive-closure CTE.
    "q_dedup_clusters" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = graft.operators.Dedup
          .ngramJaccardPairs(docs, "doc_id", "text", shingleN = 3, minJaccard = 0.5)
          .select(col("id1"), col("id2"))
        graft.operators.Dedup.connectedComponents(
          pairs, docs.select(col("doc_id")), "doc_id")
      },
      DedupClustersSql),

    // Incremental cluster maintenance: the standing corpus's CC
    // assignment absorbs the % 13 batch — batch–batch and batch–corpus
    // ≥0.5-Jaccard pairs contract through the assignment, CC runs only
    // on the contracted merge graph, labels compose back through one
    // keyed join. The oracle is the FROM-SCRATCH closure over ALL
    // docs (same SQL as q_dedup_clusters), so the hash match proves
    // incremental ≡ re-run — the maintenance contract a 100 TB corpus
    // needs at every ingest.
    //
    // Candidate generation is ONE shared all-docs pass (persisted):
    // corpus/merge pair sets are filters over it — they tile the full
    // pair set exactly, so three separate shingle passes (corpus²,
    // batch², corpus×batch) would triple the work this query benches
    // (r9 measured ~8 s, ~2× its siblings, for exactly that reason).
    // At a real ingest the standing assignment and corpus pairs are
    // READ, not recomputed — the batch-proportional generation path is
    // what q_incremental_dedup benches; here the self-contained query
    // must rebuild the standing state it would normally load, and the
    // incrementalComponents contraction is the part under proof.
    "q_incremental_cc" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val inBatch = (c: org.apache.spark.sql.Column) => c % 13 === 0
        val pairs = graft.Caching.persistTracked(
          graft.operators.Dedup
            .ngramJaccardPairs(docs, "doc_id", "text", shingleN = 3, minJaccard = 0.5)
            .select(col("id1"), col("id2")))
        val standing = graft.operators.Dedup.connectedComponents(
          pairs.filter(!inBatch(col("id1")) && !inBatch(col("id2"))),
          docs.filter(!inBatch(col("doc_id"))).select(col("doc_id")), "doc_id")
        graft.operators.Dedup.incrementalComponents(
          standing,
          pairs.filter(inBatch(col("id1")) || inBatch(col("id2"))),
          docs.filter(inBatch(col("doc_id"))).select(col("doc_id")), "doc_id")
      },
      DedupClustersSql, coalesceByBytes = true),

    // Corpus-relative quality gate: keep docs at or above the corpus
    // 25th percentile of token count. The exact-percentile threshold is
    // a 1-row broadcast (quantile_cont ≡ Spark percentile — proven by
    // q_percentile), never a collect.
    "q_quality_filter" -> QueryDef(
      (s, dir) => {
        val withN = Tables.documents(s, dir).select(col("doc_id"),
          size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
        val thresh = withN.select(expr("percentile(n_tokens, 0.25)").as("p25"))
        withN.crossJoin(broadcast(thresh))
          .filter(col("n_tokens") >= col("p25"))
          .select(col("doc_id"), col("n_tokens"), col("p25"))
      },
      sql"""WITH $ToksCte,
        |n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
        |th AS (SELECT quantile_cont(n_tokens, 0.25) AS p25 FROM n)
        |SELECT doc_id, n_tokens, p25 FROM n CROSS JOIN th
        |WHERE n_tokens >= p25"""),

    // Per-source token-budget capping (the data-mixing primitive):
    // every source contributes docs in portable-hash order until 800
    // tokens, reproducibly across engines and runs.
    "q_token_budget" -> QueryDef(
      (s, dir) => TextPipeline.capTokenBudget(
          Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text")),
          "doc_id", "source", "text", budget = 800L, salt = "graft-v1")
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens")),
      TokenBudgetSql),

    // The SKEW-parallel budget path (r12 verdict task 4): the same
    // mixture through capTokenBudgetSalted's range-bucketed two-pass
    // prefix sum — the dominant source's window sort runs as `subKeys`
    // independent tasks instead of one. The contract is bit-identical
    // cum_tokens, so the oracle is EXACTLY q_token_budget's SQL: this
    // row is the cross-engine proof that the parallel decomposition
    // changes the plan, not the mixture.
    "q_token_budget_salted" -> QueryDef(
      (s, dir) => TextPipeline.capTokenBudgetSalted(
          Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text")),
          "doc_id", "source", "text", budget = 800L, salt = "graft-v1",
          subKeys = 32)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens")),
      TokenBudgetSql),

    // PPS systematic sampling: exactly 25 weighted draws per source,
    // inclusion probability proportional to token count — the weighted
    // mixture draw beside the rate (q_sample_stratified), count
    // (q_sample_quota), and budget (q_token_budget) primitives. The
    // all-integer slot rule makes the sample itself hash-verifiable;
    // n_draws > 1 marks certainty items heavier than W/k.
    "q_sample_pps" -> QueryDef(
      (s, dir) => Splits.samplePps(
          Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text")),
          "doc_id", "source",
          size(graft.functions.TextFns.tokens(col("text"))), k = 25,
          salt = "graft-v1")
        .select(col("doc_id"), col("source"),
          col("weight").as("n_tokens"), col("n_draws")),
      sql"""WITH $ToksCte,
        |n AS (
        |  SELECT d.doc_id, d.source, CAST(len(t.t) AS BIGINT) AS w,
        |         ${hash60("'graft-v1:' || CAST(d.doc_id AS VARCHAR)")} AS h
        |  FROM documents d JOIN toks t ON d.doc_id = t.doc_id
        |  WHERE len(t.t) > 0),
        |c AS (
        |  SELECT doc_id, source, w,
        |         CAST(sum(w) OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS cum,
        |         CAST(sum(w) OVER (PARTITION BY source) AS BIGINT) AS tot
        |  FROM n)
        |SELECT doc_id, source, w AS n_tokens,
        |       CAST((cum * 25) // tot - ((cum - w) * 25) // tot AS BIGINT) AS n_draws
        |FROM c
        |WHERE (cum * 25) // tot - ((cum - w) * 25) // tot >= 1"""),

    // Incremental near-dup ingest check: the "new batch" (doc_id % 10 >=
    // 8) is scored against the existing corpus only — cost scales with
    // the increment, never corpus².
    "q_incremental_dedup" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.operators.Dedup.ngramJaccardAgainst(
          docs.filter(col("doc_id") % 10 < 8),
          docs.filter(col("doc_id") % 10 >= 8),
          "doc_id", "text", shingleN = 3, minJaccard = 0.5)
      },
      sql"""WITH $Shingle3Ctes,
        |c AS (SELECT doc_id AS corpus_id, shingle FROM sh WHERE doc_id % 10 < 8),
        |nn AS (SELECT doc_id AS new_id, shingle FROM sh WHERE doc_id % 10 >= 8),
        |s1 AS (SELECT corpus_id, count(*) AS sz1 FROM c GROUP BY 1),
        |s2 AS (SELECT new_id, count(*) AS sz2 FROM nn GROUP BY 1),
        |co AS (SELECT corpus_id, new_id, count(*) AS common
        |       FROM c JOIN nn USING (shingle) GROUP BY 1, 2)
        |SELECT corpus_id, new_id, common, sz1, sz2,
        |       common / (sz1 + sz2 - common) AS jaccard
        |FROM co JOIN s1 USING (corpus_id) JOIN s2 USING (new_id)
        |WHERE common / (sz1 + sz2 - common) >= 0.5"""),

    // Deterministic mixture resampling: src0 at 2.5x (every doc twice, a
    // hash-chosen half a third time), src1 at 0.5x, everything else 1x.
    "q_resample_mix" -> QueryDef(
      (s, dir) => Splits.resampleByWeight(
          Tables.documents(s, dir).select(col("doc_id"), col("source")),
          "doc_id", "source",
          weightsPermyriad = Map("src0" -> 25000, "src1" -> 5000),
          defaultPermyriad = 10000, salt = "graft-v1")
        .select(col("doc_id"), col("source"), col("copy_idx")),
      sql"""SELECT doc_id, source, unnest(generate_series(1, copies)) AS copy_idx
        |FROM (
        |  SELECT doc_id, source,
        |         w // 10000 + CASE WHEN h < w % 10000 THEN 1 ELSE 0 END AS copies
        |  FROM (
        |    SELECT doc_id, source,
        |           ${hash60("'graft-v1:' || CAST(doc_id AS VARCHAR)")} % 10000 AS h,
        |           CASE source WHEN 'src0' THEN 25000 WHEN 'src1' THEN 5000 ELSE 10000 END AS w
        |    FROM documents))"""),

    // Stratified deterministic sampling: down-sample the dominant 'en'
    // stratum to 20%, keep 'zh' at 50%, everything else at 80% — all by
    // portable-hash threshold, reproducible across engines and runs.
    "q_sample_stratified" -> QueryDef(
      (s, dir) => Splits.stratifiedSample(
          Tables.documents(s, dir), "doc_id", "lang",
          ratesPermyriad = Map("en" -> 2000, "zh" -> 5000),
          defaultPermyriad = 8000, salt = "graft-v1")
        .select(col("doc_id"), col("lang")),
      sql"""SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         ${hash60("'graft-v1:' || CAST(doc_id AS VARCHAR)")} % 10000 AS h
        |  FROM documents)
        |WHERE h < CASE lang WHEN 'en' THEN 2000 WHEN 'zh' THEN 5000 ELSE 8000 END"""),

    // Contrastive negative sampling: 4 deterministic pseudo-random
    // negatives per anchor document (hash-mod-rank into the id-ordered
    // corpus; self-hits dropped, expected shortfall 4/N). Corpus size
    // rides a 1-row broadcast; the draw is one keyed join on the rank.
    "q_contrastive_negs" -> QueryDef(
      (s, dir) => Splits.negativeSample(
        Tables.documents(s, dir), "doc_id", k = 4, salt = "graft-v1"),
      sql"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |ranked AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS r FROM documents),
        |slots AS (
        |  SELECT d.doc_id AS anchor_id, i AS slot,
        |         ${hash60("'graft-v1:' || CAST(d.doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")} AS h
        |  FROM documents d CROSS JOIN generate_series(1, 4) AS g(i)),
        |cand AS (SELECT anchor_id, slot, (h % n) + 1 AS r FROM slots CROSS JOIN nn)
        |SELECT anchor_id, CAST(slot AS BIGINT) AS slot, ranked.doc_id AS neg_id
        |FROM cand JOIN ranked USING (r)
        |WHERE ranked.doc_id <> anchor_id"""),

    // PII redaction (operators/Redact): emails, IPv4s, phone-shaped digit
    // runs → typed placeholder tokens + per-category audit counts. The
    // synthetic documents carry no PII, so the scrub target is a
    // DETERMINISTIC contact string derived from customer columns — both
    // engines build the identical string, so the redacted output and the
    // counts hash-compare. Map-only stage, no shuffle (the 100 TB shape:
    // fused into whatever scan feeds it).
    "q_pii_scrub" -> QueryDef(
      (s, dir) => {
        val raw = concat(
          col("c_name"), lit(" <user"), col("c_custkey").cast("string"),
          lit("@example.com> tel 555-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
          lit(" ip 10."), (col("c_custkey") % 256).cast("string"),
          lit("."), (col("c_custkey") % 100).cast("string"),
          lit("."), (col("c_custkey") % 50).cast("string"))
        val df = Tables.customer(s, dir).select(col("c_custkey"), raw.as("_raw"))
        val (nEmails, nIps, nPhones) = Redact.counts(col("_raw"))
        df.select(col("c_custkey"),
          Redact.scrub(col("_raw")).as("scrubbed"),
          nEmails.as("n_emails"), nIps.as("n_ips"), nPhones.as("n_phones"))
      },
      sql"""WITH raw AS (
        |  SELECT c_custkey,
        |         c_name || ' <user' || CAST(c_custkey AS VARCHAR) || '@example.com> tel 555-' ||
        |         lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
        |         ' ip 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
        |         CAST(c_custkey % 100 AS VARCHAR) || '.' || CAST(c_custkey % 50 AS VARCHAR) AS r
        |  FROM customer),
        |${redactCtes("c_custkey")}
        |SELECT c_custkey,
        |       $Scrubbed AS scrubbed,
        |       CAST(${RedactCounts(0)} AS BIGINT) AS n_emails,
        |       CAST(${RedactCounts(1)} AS BIGINT) AS n_ips,
        |       CAST(${RedactCounts(2)} AS BIGINT) AS n_phones
        |FROM s2"""),

    // Cross-corpus overlap against a reference TOO BIG to broadcast:
    // the q_decontaminate semantics on a shuffle join, with the
    // BloomJoin prefilter dropping bloom-negative train shingles
    // map-side before the shuffle. The oracle is the UNFILTERED overlap
    // query — the hash match proves bloom-prefilter + exact join ≡
    // plain join (same contract as q_bloom_semi_join).
    "q_decontaminate_bloom" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextPipeline.decontaminateAgainstLarge(
          docs.filter(col("doc_id") % 11 =!= 0),
          docs.filter(col("doc_id") % 11 === 0),
          "doc_id", "text", shingleN = 3, expectedItems = 100000L)
      },
      decontamSql(11, "n_ref_docs"), coalesceByBytes = true),

    // Sequential token packing per language stratum: concatenate docs
    // in id order, cut every 512 tokens; bin = where the doc's first
    // token lands, straddles = split across a cut. All integer window
    // math — DuckDB's windowed BIGINT sum is HUGEINT, hence the CAST.
    "q_seq_pack" -> QueryDef(
      (s, dir) => TextPipeline.packSequences(
        Tables.documents(s, dir), "doc_id", "lang", "text", budget = 512L),
      sql"""WITH $ToksCte,
        |n AS (SELECT d.doc_id, d.lang, CAST(len(t.t) AS BIGINT) AS n_tokens
        |      FROM documents d JOIN toks t ON t.doc_id = d.doc_id),
        |offs AS (
        |  SELECT doc_id, lang, n_tokens,
        |         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT)
        |           - n_tokens AS start_off
        |  FROM n)
        |SELECT doc_id, lang, n_tokens, start_off,
        |       start_off // 512 AS bin,
        |       (n_tokens > 0 AND (start_off + n_tokens - 1) // 512 <> start_off // 512) AS straddles
        |FROM offs"""),

    // Leakage-safe train/valid/test split: near-duplicate documents
    // must land in the SAME split (a paraphrase in valid of a train doc
    // is eval contamination), so the split key is the doc's near-dup
    // CLUSTER id (q_dedup_clusters closure), not the doc id — every
    // member inherits its cluster's portable-hash bucket. Singleton
    // clusters (the vast majority) hash by their own id, so the mix
    // stays ~80/10/10.
    "q_split_leakage_safe" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = graft.operators.Dedup
          .ngramJaccardPairs(docs, "doc_id", "text", shingleN = 3, minJaccard = 0.5)
          .select(col("id1"), col("id2"))
        val clusters = graft.operators.Dedup.connectedComponents(
          pairs, docs.select(col("doc_id")), "doc_id")
        Splits.assign(clusters, "cluster_id", salt = "graft-v1")
      },
      sql"""WITH RECURSIVE $JaccardClosureCtes,
        |clusters AS (
        |  ${clusterIds("doc_id")})
        |SELECT doc_id, cluster_id, bucket,
        |       $SplitCase
        |FROM (SELECT doc_id, cluster_id,
        |             ${hash60("'graft-v1:' || CAST(cluster_id AS VARCHAR)")} % 100 AS bucket
        |      FROM clusters)"""),

    // Quota sampling: EXACTLY min(N, |stratum|) docs per language,
    // chosen by portable-hash order — deterministic across engines,
    // runs, and partitionings (rate-based stratifiedSample can only
    // promise an EXPECTED count; quotas need a rank). The md5-hash
    // order key is collision-free in practice (60-bit space) and
    // IDENTICAL on both engines, with doc_id as the total tie-break.
    // Runs on the native bounded-heap top-k (heap orders DESC, so the
    // key is the negated hash): each map task forwards ≤ 25 rows per
    // stratum and only the survivors are ranked — no full per-stratum
    // sort, so a billion-doc stratum costs the same task memory as a
    // thousand-doc one. Ranks match the window formulation row for row
    // because the (hash, doc_id) order is total (TopKNativeSpec's
    // equivalence, re-proven here by the unchanged window-based oracle).
    "q_sample_quota" -> QueryDef(
      (s, dir) => {
        val h = graft.operators.Dedup.portableHash64(
          concat(lit("quota-v1:"), col("doc_id").cast("string")))
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), (-h).as("neg_h"))
        graft.operators.TopK
          .perGroupNativeRanked(base, Seq("lang"), "neg_h", Seq("doc_id"), 25,
            rankName = "rk")
          .select(col("doc_id"), col("lang"), col("rk"))
      },
      sql"""SELECT doc_id, lang, rk FROM (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (
        |           PARTITION BY lang
        |           ORDER BY ${hash60("'quota-v1:' || CAST(doc_id AS VARCHAR)")}, doc_id
        |         ) AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 25"""),

    // Per-source curation report — the dashboard a data team reads
    // before mixing sources: volume, exact-dup rate (corpus-global
    // occurrence counts re-keyed per source), token mass, language
    // spread, and the quality-gate pass count. One text-keyed agg + one
    // source-keyed agg; mean tokens is the exact-sum/count single
    // division. At 100 TB each stat is map-side combinable and the
    // text-occurrence join is the q_dedup_exact shape.
    "q_curation_report" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
          col("lang"), col("text"),
          size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
        val occ = docs.groupBy(col("text")).agg(count(lit(1)).as("occ"))
        docs.join(occ, Seq("text"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            (sum(col("n_tokens")).cast("double") / count(lit(1))).as("mean_tokens"),
            countDistinct(col("lang")).as("n_langs"),
            sum(when(col("n_tokens") >= 30, 1L).otherwise(0L)).as("n_pass_quality"))
      },
      sql"""WITH $ToksCte,
        |n AS (SELECT d.doc_id, d.source, d.lang, d.text, CAST(len(t.t) AS BIGINT) AS n_tokens
        |      FROM documents d JOIN toks t ON t.doc_id = d.doc_id),
        |occ AS (SELECT text, count(*) AS occ FROM documents GROUP BY text)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(sum(n_tokens) AS DOUBLE) / count(*) AS mean_tokens,
        |       count(DISTINCT lang) AS n_langs,
        |       CAST(sum(CASE WHEN n_tokens >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_quality
        |FROM n JOIN occ USING (text)
        |GROUP BY source"""),

    // Data-quality gate (the Deequ/dbt-test class): declarative
    // constraints as aggregates — null/range predicates fold into ONE
    // scan per table, uniqueness is one keyed agg, referential
    // integrity one anti join. Exact BIGINT violation counts; a load
    // pipeline gates on `passed` without collecting anything.
    "q_data_checks" -> QueryDef(
      (s, dir) => {
        import graft.operators.Checks
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        Checks.suite(
          Checks.columnChecks(li, Seq(
            "lineitem_orderkey_complete" -> col("l_orderkey").isNull,
            "lineitem_quantity_range" ->
              (col("l_quantity") < 1 || col("l_quantity") > 50),
            "lineitem_price_nonneg" -> (col("l_extendedprice") < 0))),
          Checks.columnChecks(o, Seq(
            "orders_custkey_complete" -> col("o_custkey").isNull)),
          Checks.uniquenessCheck(o, "orders_orderkey_unique", Seq("o_orderkey")),
          Checks.referentialCheck(li, o, "lineitem_fk_orders",
            "l_orderkey", "o_orderkey"))
      },
      sql"""WITH colchecks AS (
        |  SELECT * FROM (VALUES
        |    ('lineitem_orderkey_complete', (SELECT CAST(coalesce(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem)),
        |    ('lineitem_quantity_range',    (SELECT CAST(coalesce(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem)),
        |    ('lineitem_price_nonneg',      (SELECT CAST(coalesce(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem)),
        |    ('orders_custkey_complete',    (SELECT CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders))
        |  ) AS t(chk, violations)),
        |uniq AS (
        |  SELECT 'orders_orderkey_unique' AS chk,
        |         CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS violations
        |  FROM (SELECT o_orderkey, count(*) AS n FROM orders GROUP BY 1 HAVING count(*) > 1)),
        |ri AS (
        |  -- NOT EXISTS, not NOT IN: a NULL child key is an orphan under
        |  -- the engine's anti join, but NOT IN silently drops it (the
        |  -- q_not_in_nulls trap) — the two only agree with NOT EXISTS
        |  SELECT 'lineitem_fk_orders' AS chk, CAST(count(*) AS BIGINT) AS violations
        |  FROM lineitem li WHERE NOT EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_orderkey = li.l_orderkey))
        |SELECT chk AS "check", violations, violations = 0 AS passed
        |FROM (SELECT * FROM colchecks UNION ALL SELECT * FROM uniq UNION ALL SELECT * FROM ri)""", coalesceByBytes = true),

    // GPT-style sequence packing (concat-and-chop): every doc's tokens
    // laid end to end in doc_id order, the stream chopped every 512
    // tokens. The engine's global prefix sum is the scalable two-level
    // scan (range repartition + per-partition pass + #partitions-row
    // offset frame — NEVER a single-partition window); the oracle's
    // whole-set window computes the same exclusive cumsum, so the hash
    // match proves the distributed scan ≡ the textbook sequential one.
    "q_pack_global" -> QueryDef(
      (s, dir) => graft.operators.SeqPack.packSequences(
          Tables.documents(s, dir).select(col("doc_id"),
            size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", seqLen = 512L),
      sql"""WITH $PackedCtes
        |SELECT doc_id, n_tokens, tok_start,
        |       tok_start // 512 AS seq_first,
        |       (tok_start + n_tokens - 1) // 512 AS seq_last,
        |       (tok_start + n_tokens - 1) // 512 - tok_start // 512 + 1 AS n_seqs
        |FROM c"""),

    // The shard-writer's manifest over the packed stream: docs per
    // sequence and boundary-split docs per sequence. Each doc explodes
    // into ≤ n_tokens/512 + 2 rows — bounded, no all-pairs anywhere.
    "q_pack_manifest" -> QueryDef(
      (s, dir) => graft.operators.SeqPack.sequenceManifest(
        graft.operators.SeqPack.packSequences(
          Tables.documents(s, dir).select(col("doc_id"),
            size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", seqLen = 512L)),
      sql"""WITH $PackedCtes,
        |e AS (
        |  SELECT CAST(unnest(generate_series(tok_start // 512, (tok_start + n_tokens - 1) // 512)) AS BIGINT) AS seq_id,
        |         (tok_start + n_tokens - 1) // 512 > tok_start // 512 AS spans
        |  FROM c)
        |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN spans THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
        |FROM e GROUP BY seq_id"""),

    // End-to-end curation: the stages above CHAINED as one dataflow —
    // PII scrub (+audit counts) → language keep → token-count quality
    // gate on the SCRUBBED text → per-source token-budget mixture —
    // proving the operators compose (filters, per-row scrubs, and the
    // budget window agree on one frame) and that each stage stays
    // oracle-replayable inside a chain, not just standalone. PII is
    // synthesized deterministically per doc (the q_pii_scrub
    // precedent: the corpus carries none), so the scrub stage is
    // materially active — every surviving doc audits n_redactions = 3.
    // Every stage is a narrow projection/filter except the one budget
    // window (per-source running sum, the q_token_budget shape): at
    // 100 TB the chain fuses into the scan plus ONE partitioned window.
    "q_curate_e2e" -> QueryDef(
      (s, dir) => {
        import graft.operators.Redact
        val raw = Tables.documents(s, dir).select(
          col("doc_id"), col("source"), col("lang"),
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com 10.0.0.1 call 555-0042")).as("_raw"))
        val (ne, ni, np) = Redact.counts(col("_raw"))
        val scrubbed = raw
          .filter(col("lang").isin("en", "de"))
          .select(col("doc_id"), col("source"),
            Redact.scrub(col("_raw")).as("_clean"),
            (ne + ni + np).as("n_redactions"))
        val gated = scrubbed.filter(
          size(graft.functions.TextFns.tokens(col("_clean"))).cast("long") >= 30L)
        TextPipeline.capTokenBudget(gated, "doc_id", "source", "_clean",
            budget = 500L, salt = "graft-v1")
          .select(col("doc_id"), col("source"), col("n_redactions"),
            col("n_tokens"), col("cum_tokens"))
      },
      sql"""WITH raw AS (
        |  SELECT doc_id, source, lang,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com 10.0.0.1 call 555-0042' AS r
        |  FROM documents),
        |${redactCtes("doc_id, source, lang")},
        |s3 AS (SELECT doc_id, source,
        |              $Scrubbed AS clean,
        |              CAST(${RedactCounts.mkString(" + ")} AS BIGINT) AS n_redactions
        |       FROM s2
        |       WHERE lang IN ('en', 'de')),
        |tk AS (SELECT doc_id, source, n_redactions,
        |              CAST(len(${OracleSql.tokens("clean")}) AS BIGINT) AS n_toks
        |       FROM s3),
        |q AS (SELECT * FROM tk WHERE n_toks >= 30),
        |h AS (SELECT *, ${hash60("'graft-v1:' || CAST(doc_id AS VARCHAR)")} AS hh FROM q),
        |c AS (SELECT doc_id, source, n_redactions, n_toks AS n_tokens,
        |             CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY hh, doc_id) AS BIGINT) AS cum_tokens
        |      FROM h)
        |SELECT doc_id, source, n_redactions, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens <= 500""", coalesceByBytes = true)
  )
}
