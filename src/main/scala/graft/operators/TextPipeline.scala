package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Corpus-curation operators for LLM training-data pipelines, beyond the
  * near-dup family in [[Dedup]]: benchmark decontamination, passage-level
  * boilerplate removal, repetition quality signals, and fixed-size
  * sequence chunking. Everything is declarative DataFrame code — explode
  * → keyed agg → join shapes with map-side combine, no UDFs, no collect —
  * so each op is embarrassingly parallel and Catalyst/AQE-optimizable at
  * any corpus size.
  */
object TextPipeline {

  /** Non-overlapping `passageTokens`-token windows of a document, with a
    * 0-based position. The last window keeps the remainder (may be
    * shorter). Empty docs produce no passages.
    *
    * `sequence` end uses SQL `div` (true integer division — see
    * CLAUDE.md: never `/` + cast for index math).
    */
  private[graft] def passages(docs: DataFrame, idCol: String, textCol: String,
                              passageTokens: Int): DataFrame = {
    require(passageTokens >= 1, s"passageTokens must be >= 1, got $passageTokens")
    // fanOut before tokenize (r19): the driver tables are single-split
    // scans — see Tables.fanOut (no-op on multi-split inputs)
    val toks = graft.Tables.fanOut(docs.select(col(idCol).as("id"), col(textCol).as("_txt")))
      .select(col("id"), TextFns.tokens(col("_txt")).as("_toks"))
    val lastIdx = expr(s"(size(_toks) - 1) div $passageTokens")
    toks.select(col("id"),
      posexplode(when(size(col("_toks")) > 0,
        transform(sequence(lit(0), lastIdx),
          i => array_join(slice(col("_toks"), i * passageTokens + 1, lit(passageTokens)), " "))))
        .as(Seq("pos", "passage")))
  }

  /** Corpus-level passage dedup (CCNet-style boilerplate removal): split
    * every document into non-overlapping `passageTokens`-token passages,
    * count each passage's occurrences across the WHOLE corpus, drop every
    * copy of any passage occurring more than `maxOccur` times, and
    * reassemble the surviving passages in document order.
    *
    * Scale shape: occurrence counts come from a keyed groupBy (map-side
    * combine collapses a boilerplate passage's 10⁹ copies to one row per
    * map partition BEFORE the shuffle) joined back one-row-per-key — NOT
    * a window over partitionBy(passage), which would co-locate every copy
    * of a hot passage in a single task. The reassembly groupBy(id) is
    * bounded by document size.
    *
    * Output: (doc_id, n_passages, n_kept, clean_text) — docs whose every
    * passage was dropped survive with n_kept = 0 and clean_text = "".
    */
  def passageDedup(docs: DataFrame, idCol: String, textCol: String,
                   passageTokens: Int = 10, maxOccur: Int = 1): DataFrame = {
    val p = passages(docs, idCol, textCol, passageTokens)
    val occ = p.groupBy(col("passage")).agg(count(lit(1)).as("occ"))
    p.join(occ, Seq("passage"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("occ") <= maxOccur, 1L).otherwise(0L)).as("n_kept"),
        // collect_list skips the nulls `when` leaves for dropped
        // passages; array_sort on (pos, passage) structs restores
        // document order under any partitioning
        array_join(transform(array_sort(collect_list(
          when(col("occ") <= maxOccur, struct(col("pos"), col("passage"))))),
          s => s.getField("passage")), " ").as("clean_text"))
      .select(col("id").as("doc_id"), col("n_passages"), col("n_kept"), col("clean_text"))
  }

  /** Benchmark decontamination: flag training documents sharing at least
    * one word `shingleN`-gram with an evaluation set (the GPT-3 13-gram
    * overlap check). Returns one row per CONTAMINATED training doc:
    * (doc_id, n_shared_ngrams = distinct overlapping shingles,
    * n_eval_docs = distinct eval docs hit); anti-join the result against
    * the corpus to get the clean training set.
    *
    * Scale shape: the eval side is a benchmark suite — tiny next to a
    * 100 TB corpus — so its shingle set broadcasts and the training scan
    * never shuffles; with a large eval set the same plan degrades to a
    * shingle-keyed shuffle join (AQE decides). Per-doc shingles are
    * deduplicated at generation ([[TextFns.wordShingles]]), bounding the
    * join input at one row per distinct (doc, shingle).
    */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, shingleN: Int = 13): DataFrame = {
    def grams(df: DataFrame, outId: String) =
      graft.Tables.fanOut(df.select(col(idCol).as(outId), col(textCol).as("_txt")))
        .select(col(outId), TextFns.tokens(col("_txt")).as("_toks"))
        .select(col(outId), explode(TextFns.wordShingles(col("_toks"), shingleN)).as("shingle"))
    val matched = graft.Caching.persistTracked(
      grams(train, "doc_id")
        .join(grams(eval, "eval_id").hint("broadcast"), Seq("shingle")))
    overlapCounts(matched, "eval_id", "n_eval_docs")
  }

  /** (doc_id, n_shared_ngrams, <outCol>) from the matched
    * (doc_id, shingle, otherId) triples — two stacked keyed aggs joined
    * on doc_id, NEVER two countDistinct in one agg: the multi-distinct
    * formulation plans an Expand that doubles every matched row through
    * the shuffle (the q_tpch_q21 trap), in the operators whose whole
    * purpose is shuffle-volume reduction. The caller persists `matched`
    * (via [[graft.Caching.persistTracked]]) so the two aggs share one
    * materialization of the join.
    */
  private def overlapCounts(matched: DataFrame, otherId: String,
                            outCol: String): DataFrame = {
    val ngrams = matched.select(col("doc_id"), col("shingle")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_ngrams"))
    val docs = matched.select(col("doc_id"), col(otherId)).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as(outCol))
    ngrams.join(docs, Seq("doc_id"))
  }

  /** Per-document repetition quality signals (the Gopher-rules family):
    * distinct-token ratio, most-frequent-token fraction, and duplicate
    * bigram fraction. All counts are exact integers and every ratio is a
    * single IEEE division — fully oracle-checkable.
    *
    * Scale shape: explode → per-(doc,token) count → per-doc agg, twice
    * (tokens, bigrams), joined on doc id. Map-side combine keeps the
    * shuffles proportional to distinct terms per doc, so a 10⁶-token
    * document never ships 10⁶ rows — the per-row HOF formulation
    * (nested filter-count) would be O(len²) per doc instead.
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // no fanOut (r20): tokenize→per-doc counts are move-cost-cheap —
    // q_repetition_score 0.60→0.44 s without the r19 spread
    // (Tables.fanOut work-class rule)
    val base = docs.select(col(idCol).as("id"), col(textCol).as("_txt"))
      .select(col("id"), TextFns.tokens(col("_txt")).as("_toks"))
    val tokCnt = base.select(col("id"), explode(col("_toks")).as("token"))
      .groupBy(col("id"), col("token")).agg(count(lit(1)).as("c"))
    val tokSig = tokCnt.groupBy(col("id")).agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      max(col("c")).as("top_token_cnt"))
    val bgCnt = base.select(col("id"),
        explode(when(size(col("_toks")) >= 2,
          transform(sequence(lit(1), size(col("_toks")) - 1),
            i => concat(element_at(col("_toks"), i), lit(" "),
              element_at(col("_toks"), i + 1))))).as("bigram"))
      .groupBy(col("id"), col("bigram")).agg(count(lit(1)).as("c"))
    val bgSig = bgCnt.groupBy(col("id")).agg(
      sum(col("c")).as("n_bigrams"),
      count(lit(1)).as("n_distinct_bigrams"))
    // left join: single-token docs have no bigrams; their repetition
    // fraction is 0 by definition
    tokSig.join(bgSig, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        col("n_tokens"), col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_tokens")).as("distinct_ratio"),
        col("top_token_cnt"),
        (col("top_token_cnt").cast("double") / col("n_tokens")).as("top_token_frac"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct_bigrams"), lit(0L)).as("n_distinct_bigrams"),
        when(col("n_bigrams").isNotNull,
          lit(1.0) - col("n_distinct_bigrams").cast("double") / col("n_bigrams"))
          .otherwise(lit(0.0)).as("dup_bigram_frac"))
  }

  /** Deterministic per-group token-budget capping — the data-mixing
    * primitive: each group (source / domain / language) contributes docs
    * in portable-hash order (a stable pseudo-random shuffle, never
    * rand()) until its running token total exceeds `budget`; the rest
    * are dropped. Re-running, re-partitioning, or swapping engines
    * reproduces the same mixture exactly.
    *
    * Scale shape: one window over partitionBy(group) — per-group state
    * is a running sum, skew is bounded by the largest single group
    * (salt the group key upstream if one source dominates the corpus).
    * Output: input columns + n_tokens + cum_tokens.
    */
  def capTokenBudget(docs: DataFrame, idCol: String, groupCol: String,
                     textCol: String, budget: Long, salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val h = Dedup.portableHash64(concat(lit(salt + ":"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(groupCol)).orderBy(h, col(idCol))
    // family-wide NULL-id contract (samplePps/resampleByWeight/assign):
    // a NULL id hashes to NULL, sorts first, and its budget consumption
    // would be partition-order-dependent among NULL peers — dropped up
    // front so the mixture stays a reproducible shuffle
    docs.filter(col(idCol).isNotNull)
      .withColumn("n_tokens", size(TextFns.tokens(col(textCol))).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** [[capTokenBudget]] for a SKEWED mixture — the dominant-source
    * posture the plain per-group window cannot parallelize (its sort
    * funnels the whole group through one task; the 90%-one-source
    * ladder measures the plain path ~2× slower already at 150k docs and
    * the gap is Θ(n_dominant·log) from there). Same contract, same
    * OUTPUT — bit-identical `cum_tokens`, so the q_token_budget oracle
    * gates this path unchanged — via a range-bucketed two-pass prefix
    * sum:
    *
    *   1. bucket rows by the TOP bits of the portable order hash —
    *      range buckets, so bucket b's rows all precede bucket b+1's in
    *      the (h, id) group order (ids tie-break within a hash value,
    *      which never crosses a bucket);
    *   2. per-(group, bucket) token sums → one tiny window over ≤
    *      `subKeys` rows per group computes each bucket's exclusive
    *      prefix offset;
    *   3. the running sum windows over (group, bucket) partitions —
    *      the dominant group now sorts as `subKeys` independent tasks —
    *      and adds the bucket offset to restore the GLOBAL group prefix.
    *
    * Cost: the machinery runs on a persistTracked NARROW projection
    * (id, group, hash, sub, n_tokens ≈ 40 B/row — tokenize runs ONCE),
    * plus one keyed agg, a broadcast offset join, and a uniform id
    * equi-join re-attaching the full-width survivors at the end; every
    * bucket computes its local sums (no early stop at the budget
    * boundary), which is the price of the parallel sort. The caller
    * that executes the result should release via [[graft.Caching]].
    * Ids must be unique (the dedup-family contract). Use when one
    * group holds ≳ a task's worth of the corpus; the plain path stays
    * optimal for balanced mixtures. */
  def capTokenBudgetSalted(docs: DataFrame, idCol: String, groupCol: String,
                           textCol: String, budget: Long, salt: String,
                           subKeys: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(subKeys >= 1 && (subKeys & (subKeys - 1)) == 0 && subKeys <= 1024,
      s"subKeys must be a power of two in [1, 1024], got $subKeys")
    val shift = 60 - java.lang.Integer.numberOfTrailingZeros(subKeys)
    // ALL the prefix-sum machinery runs on a NARROW (id, group, hash,
    // sub, n_tokens) projection, persistTracked so the corpus is
    // scanned and tokenized exactly ONCE (the offsets agg and the
    // window branch both consume it; un-cached, each recomputed the
    // tokenize — the operator's dominant cost — from raw text). The
    // full-width rows never ride the skewed machinery at all: the
    // survivor set re-attaches by a uniform id equi-join at the end.
    val narrow = graft.Caching.persistTracked(
      docs.filter(col(idCol).isNotNull)
        .select(col(idCol), col(groupCol),
          Dedup.portableHash64(
            concat(lit(salt + ":"), col(idCol).cast("string"))).as("_h"),
          size(TextFns.tokens(col(textCol))).cast("long").as("n_tokens"))
        // PortableHash60 ∈ [0, 2^60): the top log2(subKeys) bits are a
        // RANGE partition of the order key, not a shuffle of it
        .withColumn("_sub", shiftright(col("_h"), shift)))
    val offsets = narrow.groupBy(col(groupCol), col("_sub"))
      .agg(sum(col("n_tokens")).as("_bsum"))
      .withColumn("_off",
        coalesce(sum(col("_bsum")).over(
          Window.partitionBy(col(groupCol)).orderBy(col("_sub"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(groupCol).as("_g"), col("_sub").as("_s"), col("_off"))
    val w = Window.partitionBy(col(groupCol), col("_sub"))
      .orderBy(col("_h"), col(idCol))
    // <=> on the group key: the plain path's window (and the oracle's
    // PARTITION BY) keep a NULL group as a real budget group, so the
    // offset join must too — a null-UNSAFE using-column join would
    // silently drop every NULL-group row, a divergence the driver
    // tables (no NULL source) can never surface. EqualNullSafe is
    // still a hash-join key, so the broadcast plan is unchanged.
    val survivors = narrow.join(broadcast(offsets),
        col(groupCol) <=> col("_g") && col("_sub") === col("_s"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w) + col("_off"))
      .filter(col("cum_tokens") <= budget)
      .select(col(idCol), col("n_tokens"), col("cum_tokens"))
    // re-attach the full-width row by id (unique, like the dedup
    // family — the plain path's cum assignment is already
    // order-dependent between duplicate ids, so neither path defines
    // them): a UNIFORM shuffle even when one group dominates
    docs.join(survivors, Seq(idCol))
  }

  /** Fixed-size sequence chunking — the pre-packing step of an LLM data
    * loader: split each document's token stream into consecutive
    * `chunkTokens`-token windows (last window keeps the remainder).
    * Output: (doc_id, chunk_idx, n_tokens, chunk_text). Pure per-row
    * generation — one narrow stage, no shuffle.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            chunkTokens: Int = 32): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val toks = docs.select(col(idCol).as("doc_id"), TextFns.tokens(col(textCol)).as("_toks"))
    val lastIdx = expr(s"(size(_toks) - 1) div $chunkTokens")
    toks.select(col("doc_id"),
        posexplode(when(size(col("_toks")) > 0,
          transform(sequence(lit(0), lastIdx),
            i => struct(
              least(lit(chunkTokens), size(col("_toks")) - i * chunkTokens)
                .cast("long").as("n_tokens"),
              array_join(slice(col("_toks"), i * chunkTokens + 1, lit(chunkTokens)), " ")
                .as("chunk_text")))))
          .as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.n_tokens"), col("c.chunk_text"))
  }

  /** Overlapping token windows — the RAG retrieval-chunking pattern
    * [[chunk]] deliberately isn't: a `windowTokens` window starts every
    * `strideTokens`, so adjacent chunks share `window − stride` tokens
    * of context and no retrieval hit is truncated at an arbitrary chunk
    * boundary. Starts are 0, S, 2S, …, the last being the largest
    * multiple of S strictly below the token count — every token is
    * covered, the tail window may be short, empty docs emit nothing,
    * and stride = window degrades exactly to [[chunk]]'s tiling.
    *
    * Scale: pure narrow per-row explode (no shuffle, no state) — the
    * output is ~window/stride× the corpus, which is the caller's
    * storage decision, not a plan hazard.
    */
  def slidingChunks(docs: DataFrame, idCol: String, textCol: String,
                    windowTokens: Int = 32, strideTokens: Int = 16): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    require(strideTokens >= 1 && strideTokens <= windowTokens,
      s"strideTokens must be in [1, windowTokens], got $strideTokens")
    val toks = docs.select(col(idCol).as("doc_id"), TextFns.tokens(col(textCol)).as("_toks"))
    val lastStart = expr(s"((size(_toks) - 1) div $strideTokens) * $strideTokens")
    toks.select(col("doc_id"),
        posexplode(when(size(col("_toks")) > 0,
          transform(sequence(lit(0), lastStart, lit(strideTokens)),
            st => struct(
              st.cast("long").as("start_tok"),
              least(lit(windowTokens), size(col("_toks")) - st)
                .cast("long").as("n_tokens"),
              array_join(slice(col("_toks"), st + 1, lit(windowTokens)), " ")
                .as("chunk_text")))))
          .as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.start_tok"), col("c.n_tokens"), col("c.chunk_text"))
  }

  /** [[decontaminate]] against a reference corpus TOO BIG to broadcast
    * (cross-corpus overlap — e.g. "which train docs share an n-gram
    * with any doc of that other 50 TB crawl"). The broadcast-join form
    * stops working when the reference side no longer fits an executor;
    * this variant shuffle-joins on the shingle key, with a
    * [[BloomJoin]] prefilter built over the reference shingles so
    * bloom-negative train shingles (the overwhelming majority) are
    * dropped MAP-SIDE and never enter the shuffle. False positives
    * survive the prefilter but not the exact join — output is
    * bit-identical to the unfiltered join (same oracle SQL shape as
    * q_decontaminate), so `expectedItems` is a pure perf knob.
    */
  def decontaminateAgainstLarge(train: DataFrame, ref: DataFrame,
                                idCol: String, textCol: String,
                                shingleN: Int = 13,
                                expectedItems: Long = 1000000L): DataFrame = {
    def grams(df: DataFrame, outId: String) =
      graft.Tables.fanOut(df.select(col(idCol).as(outId), col(textCol).as("_txt")))
        .select(col(outId), TextFns.tokens(col("_txt")).as("_toks"))
        .select(col(outId), explode(TextFns.wordShingles(col("_toks"), shingleN)).as("shingle"))
    val tg = grams(train, "doc_id")
    val rg = grams(ref, "ref_id")
    val matched = graft.Caching.persistTracked(
      BloomJoin.prefilter(tg, col("shingle"), rg.select(col("shingle")),
          col("shingle"), expectedItems)
        .join(rg, Seq("shingle")))
    overlapCounts(matched, "ref_id", "n_ref_docs")
  }

  /** Sequential token packing — the training data-loader's batch
    * layout: concatenate each stratum's documents in id order and cut
    * the stream every `budget` tokens. A document's `bin` is where its
    * first token lands; `straddles` flags docs split across a cut (the
    * loader's attention-mask boundary case). All integer math (window
    * sum + `div`), so the layout is deterministic across engines, runs,
    * and partitionings.
    *
    * Scale shape: one window per stratum (partitionBy(group), ordered
    * by id) — the running sum is per-group serial, which is exactly the
    * contract (packing IS sequential within a shard); strata pack in
    * parallel, so throughput scales with shard count, and a 100 TB
    * corpus packs per-(source, date-bucket) shards, never globally.
    */
  def packSequences(docs: DataFrame, idCol: String, groupCol: String,
                    textCol: String, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
    // NULL ids sort first with partition-order-dependent peer order —
    // the same reproducible-layout hazard capTokenBudget guards; a
    // packing layout that moves between runs corrupts every downstream
    // bin/straddle reference
    docs.filter(col(idCol).isNotNull)
      .withColumn("n_tokens", size(TextFns.tokens(col(textCol))).cast("long"))
      .withColumn("start_off",
        coalesce(sum(col("n_tokens")).over(w) - col("n_tokens"), lit(0L)))
      .withColumn("bin", expr(s"start_off div ${budget}L"))
      .withColumn("straddles",
        col("n_tokens") > 0 &&
          expr(s"(start_off + n_tokens - 1) div ${budget}L") =!= col("bin"))
      .select(col(idCol), col(groupCol), col("n_tokens"),
        col("start_off"), col("bin"), col("straddles"))
  }

  /** Model-based quality gate — the fastText-class linear classifier
    * beside the heuristic `q_quality_score`: per document,
    * logit = b + (Σ_t w[h(t) mod D]) / 10⁶ / n_tokens over the frozen
    * [[graft.functions.QualityWeights]] (hashed bag-of-tokens, weights
    * distilled offline from the stopword-ratio heuristic by
    * FreezeQualityWeights — the IvfCentroids/BpeMerges frozen-artifact
    * pattern).
    *
    * Exactness design: weights are 10⁻⁶ fixed-point Longs and the
    * per-doc feature dot product is an INTEGER sum — order-free under
    * any partitioning, so unlike a float fold it hash-verifies (the
    * decimal-money-sum decision class); the logit is then two IEEE
    * double ops from exact integers, replayed bit-for-bit by the
    * oracle. The bucket lookup is a codegen'd `element_at` on a
    * 256-entry literal array over the portable 60-bit token hash — one
    * narrow projection + one keyed agg, no join against a weights
    * table. TOTAL over empty docs (q_simhash discipline): zero-token
    * docs surface with logit = bias.
    *
    * @return (idCol, score_fp, n_tokens, quality_logit, is_quality)
    */
  def qualityClassifier(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    import graft.functions.{QualityWeights => QW}
    // precompute the double ONCE (never constant-fold on both engines
    // separately — the q_bm25 rule)
    val bD = QW.biasFp.toDouble / 1e6
    val scored = docs
      .select(col(idCol), explode(TextFns.tokens(col(textCol))).as("token"))
      .select(col(idCol), element_at(typedLit(QW.weightsFp),
        (Dedup.portableHash64(col("token")) % QW.D).cast("int") + 1).as("w_fp"))
      .groupBy(col(idCol))
      .agg(sum(col("w_fp")).as("score_fp"), count(lit(1)).as("n_tokens"))
    docs.select(col(idCol)).distinct().join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("score_fp"), lit(0L)).as("score_fp"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .withColumn("quality_logit",
        when(col("n_tokens") === 0, lit(bD))
          .otherwise(lit(bD) + col("score_fp").cast("double") / lit(1000000.0)
            / col("n_tokens").cast("double")))
      .withColumn("is_quality", (col("quality_logit") >= 0.0).cast("long"))
  }
}
