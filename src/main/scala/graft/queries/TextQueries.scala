package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextFns
import graft.operators.Dedup
import OracleSql.{SplitCase, hash60}

/** Text-analysis surface over the `documents` table: tokenization,
  * quality scoring, language ID, fingerprinting, exact dedup. Everything
  * is per-row column expressions plus at most one keyed agg — trivially
  * data-parallel at any scale.
  */
object TextQueries {

  // BM25 constants, precomputed in Scala so BOTH engines use the exact
  // same doubles with NO constant arithmetic at query time (1.2+1.0 in
  // double vs DECIMAL 2.2→double can differ in the last bit; Double
  // .toString round-trips, and CAST('…' AS DOUBLE) parses it back
  // bit-exactly — the engine-constant interpolation pattern).
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25K1p1 = Bm25K1 + 1.0
  private val Bm25OneMinusB = 1.0 - Bm25B
  private def dsql(d: Double) = s"CAST('${d.toString}' AS DOUBLE)"

  // BM25 per-doc scoring, shared by q_bm25 (top-20 list) and
  // q_hybrid_rrf (the keyword arm of the fusion): exact-integer
  // tf/df/dl/N, rational idf (ln() is not bit-portable — CLAUDE.md),
  // fixed-order per-doc term combination (never a float sum over
  // partition order). Returns (doc_id, bm25, n_terms), unordered.
  private def bm25DocScores(s: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame = {
    val terms = Seq("dup", "join", "vector")
    val docs = Tables.documents(s, dir)
    // NO fanOut here (r20): tokenize + keyed aggs are move-cost-cheap —
    // the r19 spread measured net-negative (q_bm25 0.94→0.86 s,
    // q_hybrid_rrf 1.15→0.93 s without it; Tables.fanOut work-class rule)
    val toks = docs.select(col("doc_id"), col("text"))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("_toks"))
    val dl = toks.select(col("doc_id"), size(col("_toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val tf = toks.select(col("doc_id"), explode(col("_toks")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val avgdl = col("total_dl").cast("double") / col("n_docs").cast("double")
    val idf = ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val score = idf * (col("tf").cast("double") * lit(Bm25K1p1)) /
      (col("tf").cast("double") +
        lit(Bm25K1) * (lit(Bm25OneMinusB) +
          lit(Bm25B) * (col("dl").cast("double") / avgdl)))
    val scored = tf.join(dl, Seq("doc_id"))
      .join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("token"), score.as("s"))
    def termScore(t: String) =
      coalesce(max(when(col("token") === t, col("s"))), lit(0.0))
    scored.groupBy(col("doc_id"))
      .agg((termScore("dup") + termScore("join") + termScore("vector")).as("bm25"),
        count(lit(1)).as("n_terms"))
  }

  // The matching oracle CTE chain, ending in bm25doc(doc_id, bm25,
  // n_terms) — shared by q_bm25 and q_hybrid_rrf so the two gates
  // replay ONE definition of the ranking function.
  private val Bm25CtesSql =
    sql"""${OracleSql.ToksCte}, dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
      |tf AS (
      |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(t) AS token FROM toks)
      |  WHERE token IN ('dup', 'join', 'vector')
      |  GROUP BY 1, 2),
      |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id, tf.token,
      |         ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |         * (CAST(tf AS DOUBLE) * ${dsql(Bm25K1p1)})
      |         / (CAST(tf AS DOUBLE) + ${dsql(Bm25K1)} * (${dsql(Bm25OneMinusB)} + ${dsql(Bm25B)} * (CAST(dl.dl AS DOUBLE) / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS s
      |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (token) CROSS JOIN stats),
      |bm25doc AS (
      |  SELECT doc_id,
      |         coalesce(max(CASE WHEN token = 'dup' THEN s END), 0.0)
      |           + coalesce(max(CASE WHEN token = 'join' THEN s END), 0.0)
      |           + coalesce(max(CASE WHEN token = 'vector' THEN s END), 0.0) AS bm25,
      |         CAST(count(*) AS BIGINT) AS n_terms
      |  FROM scored GROUP BY doc_id)"""

  private def langCase(sEn: String, sDe: String, sEs: String, sFr: String) =
    sql"""CASE WHEN $sEn >= $sDe AND $sEn >= $sEs AND $sEn >= $sFr THEN 'en'
       |     WHEN $sDe >= $sEs AND $sDe >= $sFr THEN 'de'
       |     WHEN $sEs >= $sFr THEN 'es'
       |     ELSE 'fr' END"""

  /** Each document's adjacent token pairs over `toks` as
    * `bg(<keep>w1, w2)`. */
  private def bigramCte(keep: String): Sql =
    sql"""bg AS (
       |  SELECT ${keep}b[1] AS w1, b[2] AS w2
       |  FROM (SELECT ${keep}unnest([[t[i], t[i+1]] for i in generate_series(1, len(t) - 1)]) AS b
       |        FROM toks WHERE len(t) >= 2)
       |)"""

  private def sqlHits(vocab: Seq[String]): String =
    s"len(list_filter(toks, t -> t IN (${vocab.map(w => s"'$w'").mkString(",")})))"

  // frozen quality-classifier constants, interpolated for the oracle
  // (declared BEFORE defs — object init order, see CLAUDE.md)
  private val QwListSql =
    graft.functions.QualityWeights.weightsFp.mkString("[", ", ", "]")
  private val QwBiasD =
    graft.functions.QualityWeights.biasFp.toDouble / 1e6

  val defs: Seq[(String, QueryDef)] = Seq(

    // Corpus token frequencies (explode → agg).
    "q_token_freq" -> QueryDef(
      // no fanOut: explode→agg is move-cost-cheap (r20 A/B 0.42→0.36 s
      // without the spread — Tables.fanOut work-class rule)
      (s, dir) => Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("n_docs")),
      sql"""SELECT token, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(${OracleSql.tokens("text")}) AS token
        |      FROM documents)
        |GROUP BY token"""),

    // Per-document token count (whitespace tokenization).
    "q_token_count" -> QueryDef(
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tokens")),
      sql"""SELECT doc_id,
        |       CAST(len(${OracleSql.tokens("text")}) AS BIGINT) AS n_tokens
        |FROM documents"""),

    // BPE-style regex pre-tokenization (the split a byte-pair tokenizer
    // applies before merges) — over the JSON props strings, whose
    // punctuation actually exercises the run-splitting; the joined
    // token string makes any match divergence visible to the hash.
    "q_token_bpe" -> QueryDef(
      // no fanOut: regex pre-tokenize is move-cost-cheap (r20 A/B
      // 0.26→0.16 s without the spread — Tables.fanOut work-class rule)
      (s, dir) => Tables.events(s, dir).select(col("event_id"), col("props"))
        .select(col("event_id"), TextFns.bpeTokens(col("props")).as("_t"))
        .select(col("event_id"),
          size(col("_t")).cast("long").as("n_bpe_tokens"),
          array_join(col("_t"), "|").as("bpe_tokens")),
      sql"""SELECT event_id,
         |       CAST(len(regexp_extract_all(props, '${TextFns.BpePattern}')) AS BIGINT) AS n_bpe_tokens,
         |       array_to_string(regexp_extract_all(props, '${TextFns.BpePattern}'), '|') AS bpe_tokens
         |FROM events"""),

    // Quality heuristics: exact integer counts + deterministic ratios.
    "q_quality_score" -> QueryDef(
      (s, dir) => {
        // tokens materialized once per row (see TextFns.wordShingles
        // PERF CONTRACT — same re-evaluation hazard applies to any
        // expression referenced by several output columns)
        val toks = col("_toks")
        // no fanOut: per-row ratio math is move-cost-cheap (r20 A/B
        // 0.23→0.14 s without the spread — Tables.fanOut work-class rule)
        Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("_toks"))
          .select(
            col("doc_id"),
            length(col("text")).cast("long").as("n_chars_m"),
            size(toks).cast("long").as("n_tokens"),
            length(regexp_replace(col("text"), "\\s", "")).cast("long").as("n_nonspace"),
            (length(regexp_replace(col("text"), "\\s", "")).cast("double") /
              size(toks)).as("avg_token_len"),
            (TextFns.vocabHits(toks, TextFns.EnStop).cast("double") /
              size(toks)).as("stopword_ratio"))
      },
      sql"""SELECT doc_id,
         |       CAST(length(text) AS BIGINT) AS n_chars_m,
         |       CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_nonspace,
         |       length(regexp_replace(text, '\\s', '', 'g')) / len(toks) AS avg_token_len,
         |       ${sqlHits(TextFns.EnStop)} / len(toks) AS stopword_ratio
         |FROM (SELECT doc_id, text,
         |             ${OracleSql.tokens("text")} AS toks
         |      FROM documents)"""),

    // Model-based quality gate beside the heuristic above: the frozen
    // fastText-class linear classifier (QualityWeights — hashed
    // bag-of-tokens, 10^-6 fixed-point weights distilled offline from
    // the stopword heuristic, train acc 0.94). The per-doc dot product
    // is an exact integer sum over a 256-entry literal-array lookup on
    // the portable token hash; the logit is two IEEE divisions + one
    // add from exact integers, so the oracle replays the MODEL bit for
    // bit — the q_ann_brute precedent applied to a trained classifier.
    "q_quality_classifier" -> QueryDef(
      (s, dir) => graft.operators.TextPipeline.qualityClassifier(
        Tables.documents(s, dir)),
      sql"""WITH toks AS (
         |  SELECT doc_id, unnest(${OracleSql.tokens("text")}) AS token
         |  FROM documents),
         |w AS (SELECT $QwListSql AS wl),
         |scored AS (
         |  SELECT doc_id,
         |         CAST(sum(wl[(${hash60("token")} % ${graft.functions.QualityWeights.D}) + 1]) AS BIGINT) AS score_fp,
         |         CAST(count(*) AS BIGINT) AS n_tokens
         |  FROM toks CROSS JOIN w GROUP BY doc_id),
         |ids AS (SELECT DISTINCT doc_id FROM documents)
         |SELECT doc_id, score_fp, n_tokens, quality_logit,
         |       CAST(CASE WHEN quality_logit >= 0 THEN 1 ELSE 0 END AS BIGINT) AS is_quality
         |FROM (
         |  SELECT ids.doc_id,
         |         CAST(coalesce(score_fp, 0) AS BIGINT) AS score_fp,
         |         CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
         |         CASE WHEN coalesce(n_tokens, 0) = 0 THEN ${dsql(QwBiasD)}
         |              ELSE ${dsql(QwBiasD)} + CAST(coalesce(score_fp, 0) AS DOUBLE) / CAST(1000000 AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS quality_logit
         |  FROM ids LEFT JOIN scored ON ids.doc_id = scored.doc_id)"""),

    // Language ID: argmax over per-language stopword hit counts with a
    // fixed tie order (en > de > es > fr).
    "q_lang_id" -> QueryDef(
      (s, dir) => {
        val toks = col("_toks")
        val (en, de, es, fr) = (
          TextFns.vocabHits(toks, TextFns.EnStop),
          TextFns.vocabHits(toks, TextFns.DeStop),
          TextFns.vocabHits(toks, TextFns.EsStop),
          TextFns.vocabHits(toks, TextFns.FrStop))
        // no fanOut: vocab-hit scoring is move-cost-cheap (r20 A/B
        // 0.25→0.13 s without the spread — Tables.fanOut work-class rule)
        Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .select(col("doc_id"), TextFns.tokens(col("text")).as("_toks"))
          .select(
            col("doc_id"),
            when(en >= de && en >= es && en >= fr, "en")
              .when(de >= es && de >= fr, "de")
              .when(es >= fr, "es")
              .otherwise("fr").as("pred_lang"),
            en.cast("long").as("en_hits"))
      },
      sql"""SELECT doc_id,
         |       ${langCase(sqlHits(TextFns.EnStop), sqlHits(TextFns.DeStop),
                            sqlHits(TextFns.EsStop), sqlHits(TextFns.FrStop))} AS pred_lang,
         |       CAST(${sqlHits(TextFns.EnStop)} AS BIGINT) AS en_hits
         |FROM (SELECT doc_id, ${OracleSql.tokens("text")} AS toks
         |      FROM documents)"""),

    // Classifier evaluation at corpus scale: the q_lang_id heuristic
    // scored against the labeled `lang` column as a confusion matrix
    // (label × prediction counts + per-cell share of the label's row).
    // One keyed agg over the prediction pass; the per-label totals are
    // a ≤16-row broadcast. The eval pattern every model-based curation
    // stage needs (quality classifiers, lang ID, toxicity gates).
    "q_lang_confusion" -> QueryDef(
      (s, dir) => {
        val toks = col("_toks")
        val (en, de, es, fr) = (
          TextFns.vocabHits(toks, TextFns.EnStop),
          TextFns.vocabHits(toks, TextFns.DeStop),
          TextFns.vocabHits(toks, TextFns.EsStop),
          TextFns.vocabHits(toks, TextFns.FrStop))
        val cells = graft.Tables.fanOut(
            Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")))
          .select(col("doc_id"), col("lang"), TextFns.tokens(col("text")).as("_toks"))
          .select(col("lang"),
            when(en >= de && en >= es && en >= fr, "en")
              .when(de >= es && de >= fr, "de")
              .when(es >= fr, "es")
              .otherwise("fr").as("pred_lang"))
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
        val totals = cells.groupBy(col("lang").as("lg"))
          .agg(sum(col("n")).as("label_total"))
        cells.join(broadcast(totals), col("lang") === col("lg"))
          .select(col("lang"), col("pred_lang"), col("n"), col("label_total"),
            (col("n").cast("double") / col("label_total").cast("double")).as("share"))
      },
      sql"""WITH pred AS (
         |  SELECT lang,
         |         ${langCase(sqlHits(TextFns.EnStop), sqlHits(TextFns.DeStop),
                              sqlHits(TextFns.EsStop), sqlHits(TextFns.FrStop))} AS pred_lang
         |  FROM (SELECT doc_id, lang, ${OracleSql.tokens("text")} AS toks
         |        FROM documents)),
         |cells AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         |          FROM pred GROUP BY 1, 2),
         |tot AS (SELECT lang AS lg, CAST(sum(n) AS BIGINT) AS label_total
         |        FROM cells GROUP BY 1)
         |SELECT lang, pred_lang, n, label_total,
         |       CAST(n AS DOUBLE) / CAST(label_total AS DOUBLE) AS share
         |FROM cells JOIN tot ON lang = lg"""),

    // Bigram language-model counts: corpus bigram frequency and the
    // conditional P(w2 | w1) = cnt(w1,w2) / cnt(w1·*) — both counts are
    // exact integers, the probability is one IEEE division, so the whole
    // model is oracle-checkable. Shape: explode 2-shingles → keyed agg →
    // broadcast-or-shuffle join on the prefix marginal (AQE decides).
    "q_bigram_lm" -> QueryDef(
      (s, dir) => {
        // raw bigrams WITH duplicates (wordShingles dedups — set
        // semantics are right for Jaccard, wrong for LM counts); toks
        // materialized per the TextFns PERF CONTRACT; docs with < 2
        // tokens produce a null array, which explode drops
        val toks = col("_toks")
        // no fanOut: bigram explode→agg is move-cost-cheap (r20 A/B
        // 0.70→0.61 s without the spread — Tables.fanOut work-class rule)
        val bigrams = Tables.documents(s, dir).select(col("text"))
          .select(TextFns.tokens(col("text")).as("_toks"))
          .select(explode(when(size(toks) >= 2,
            transform(sequence(lit(1), size(toks) - 1),
              i => struct(element_at(toks, i).as("w1"),
                element_at(toks, i + 1).as("w2"))))).as("bg"))
          .select(col("bg.w1"), col("bg.w2"))
        val pair = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
        val marg = pair.groupBy(col("w1")).agg(sum(col("cnt")).as("w1_total"))
        pair.join(marg, Seq("w1"))
          .select(col("w1"), col("w2"), col("cnt"),
            (col("cnt").cast("double") / col("w1_total")).as("p_cond"))
      },
      sql"""WITH ${OracleSql.ToksCte}, ${bigramCte("")},
        |pair AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
        |marg AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS w1_total FROM pair GROUP BY 1)
        |SELECT pair.w1, w2, cnt, CAST(cnt AS DOUBLE) / w1_total AS p_cond
        |FROM pair JOIN marg ON pair.w1 = marg.w1"""),

    // Collocation mining by LIFT rank — PMI without the log: PMI(x,y)
    // = ln(lift), ln is monotone, and ln() is not bit-portable across
    // libm implementations (the BM25 decision class), so the engine
    // emits the rational lift n_xy·N / (n_x·n_y) — exact BIGINT
    // products, ONE IEEE division. At sf scales the products fit int64;
    // a 100 TB corpus computes the same rank in double (documented
    // tradeoff, same class as the decimal money sums). Shape: tokenized
    // docs persist once (Caching-tracked) and feed unigram counts, the
    // total, and bigram counts; the n_xy ≥ 5 support filter runs BEFORE
    // the marginal joins, so only candidate collocations join the
    // (broadcastable) vocabulary counts.
    "q_collocations" -> QueryDef(
      (s, dir) => {
        val toks = col("_toks")
        // no fanOut: tokenize-into-persist is move-cost-cheap (r20 A/B
        // 0.94→0.65 s without the spread — Tables.fanOut work-class rule)
        val tokenized = graft.Caching.persistTracked(
          Tables.documents(s, dir).select(col("text"))
            .select(TextFns.tokens(col("text")).as("_toks")))
        val uni = tokenized.select(explode(toks).as("w"))
        val ucnt = uni.groupBy(col("w")).agg(count(lit(1)).as("n"))
        val tot = uni.agg(count(lit(1)).as("n_total"))
        val pair = tokenized
          .select(explode(when(size(toks) >= 2,
            transform(sequence(lit(1), size(toks) - 1),
              i => struct(element_at(toks, i).as("w1"),
                element_at(toks, i + 1).as("w2"))))).as("bg"))
          .select(col("bg.w1"), col("bg.w2"))
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_xy"))
          .filter(col("n_xy") >= 5)
        pair
          .join(ucnt.select(col("w").as("w1"), col("n").as("n_x")), Seq("w1"))
          .join(ucnt.select(col("w").as("w2"), col("n").as("n_y")), Seq("w2"))
          .crossJoin(broadcast(tot))
          .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"),
            ((col("n_xy") * col("n_total")).cast("double") /
              (col("n_x") * col("n_y")).cast("double")).as("lift"))
      },
      sql"""WITH ${OracleSql.ToksCte}, uni AS (SELECT unnest(t) AS w FROM toks),
        |ucnt AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM uni GROUP BY w),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM uni),
        |${bigramCte("")}, pair AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy FROM bg GROUP BY 1, 2
        |  HAVING count(*) >= 5)
        |SELECT w1, w2, n_xy, u1.n AS n_x, u2.n AS n_y,
        |       CAST(n_xy * n_total AS DOUBLE) / CAST(u1.n * u2.n AS DOUBLE) AS lift
        |FROM pair JOIN ucnt u1 ON pair.w1 = u1.w
        |          JOIN ucnt u2 ON pair.w2 = u2.w
        |          CROSS JOIN tot"""),

    // LM-based document quality scoring — the CCNet signal class (score
    // docs by how well a corpus LM predicts them) in a hash-portable
    // form: perplexity needs ln() (not bit-portable across libm, same
    // decision class as the BM25 rational idf), so the score is the
    // count-mass ratio pair_mass / prefix_mass = Σc(w1,w2) / Σc(w1)
    // over the doc's bigrams — the count-weighted aggregate conditional
    // bigram probability. Both masses are exact BIGINT sums (order-free,
    // no float fold), the single final division is portable IEEE.
    // Plan: doc bigrams persist once (Caching-tracked) and feed the
    // pair/marg vocab aggregates AND the per-doc join — the corpus is
    // tokenized once; joins are keyed on (w1,w2)/w1; all aggs map-side
    // combinable. Docs with < 2 tokens have no bigrams and no row.
    "q_doc_lm_score" -> QueryDef(
      (s, dir) => {
        val toks = col("_toks")
        val docBigrams = graft.Caching.persistTracked(
          graft.Tables.fanOut(Tables.documents(s, dir).select(col("doc_id"), col("text")))
            .select(col("doc_id"), TextFns.tokens(col("text")).as("_toks"))
            .select(col("doc_id"), explode(when(size(toks) >= 2,
              transform(sequence(lit(1), size(toks) - 1),
                i => struct(element_at(toks, i).as("w1"),
                  element_at(toks, i + 1).as("w2"))))).as("bg"))
            .select(col("doc_id"), col("bg.w1"), col("bg.w2")))
        val pair = docBigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
        val marg = pair.groupBy(col("w1")).agg(sum(col("cnt")).as("w1_total"))
        docBigrams
          .join(pair, Seq("w1", "w2"))
          .join(marg, Seq("w1"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("cnt")).as("pair_mass"),
            sum(col("w1_total")).as("prefix_mass"))
          .select(col("doc_id"), col("n_bigrams"), col("pair_mass"), col("prefix_mass"),
            (col("pair_mass").cast("double") / col("prefix_mass").cast("double"))
              .as("lm_score"))
      },
      sql"""WITH ${OracleSql.ToksCte}, ${bigramCte("doc_id, ")},
        |pair AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
        |marg AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS w1_total FROM pair GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(cnt) AS BIGINT) AS pair_mass,
        |       CAST(sum(w1_total) AS BIGINT) AS prefix_mass,
        |       CAST(sum(cnt) AS DOUBLE) / CAST(sum(w1_total) AS DOUBLE) AS lm_score
        |FROM bg JOIN pair USING (w1, w2) JOIN marg USING (w1)
        |GROUP BY doc_id"""),

    // Inverted-index build: term → document frequency + sorted posting
    // list. One explode + distinct + keyed agg — the standard
    // distributed index-build shape. The fractional df cap (terms in
    // > 90% of docs are dropped) is the scale guard: stop-term posting
    // lists are the only unbounded per-key state, and real IR builds
    // drop or shard exactly those (mirrors Dedup.maxShingleDf). The
    // corpus size enters as a 1-row broadcast, never a collect.
    // Postings emit as a joined string (driver compare cannot
    // canonicalize arrays); sort_array makes the list order
    // deterministic under any partitioning.
    "q_inverted_index" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val n = docs.select(count(lit(1)).as("_n"))
        graft.Tables.fanOut(docs.select(col("doc_id"), col("text")))
          .select(explode(TextFns.tokens(col("text"))).as("term"), col("doc_id"))
          .distinct()
          .groupBy(col("term"))
          .agg(count(lit(1)).as("df"),
            array_join(transform(sort_array(collect_list(col("doc_id"))),
              _.cast("string")), ",").as("postings"))
          .crossJoin(broadcast(n))
          .filter(col("df") <= lit(0.9) * col("_n"))
          .drop("_n")
      },
      sql"""SELECT token AS term, count(*) AS df,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM (SELECT DISTINCT doc_id, unnest(${OracleSql.tokens("text")}) AS token
        |      FROM documents)
        |GROUP BY token HAVING count(*) <= 0.9 * (SELECT count(*) FROM documents)"""),

    // Content fingerprint (exact-dup key): md5 — same hex in both engines.
    "q_fingerprint" -> QueryDef(
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), md5(col("text")).as("fingerprint")),
      sql"SELECT doc_id, md5(text) AS fingerprint FROM documents"),

    // Exact dedup: representative (min id) + multiplicity per text group.
    "q_dedup_exact" -> QueryDef(
      (s, dir) => Dedup.exact(Tables.documents(s, dir), "doc_id", Seq("text")),
      sql"""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text"""),

    // TF-IDF term weighting: tf = per-doc term frequency, df = document
    // frequency, N enters as a 1-row broadcast. The idf factor is the
    // BM25 rational form (N − df + 0.5)/(df + 0.5) rather than a
    // logarithm: ln() is NOT bit-portable across libm implementations
    // (same decision class as decimal money sums), while the rational
    // form is pure IEEE +,−,/ — hash-exact on both engines and order-
    // equivalent to log-idf for ranking.
    "q_tfidf" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // no fanOut: explode-into-persisted-agg is move-cost-cheap (r20
        // A/B 0.97→0.93 s without the spread — Tables.fanOut work-class
        // rule)
        val toks = docs.select(col("doc_id"), col("text"))
          .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
        // tf is persisted so the corpus is scanned+tokenized ONCE (the
        // naive groupBy+join formulation re-plans the whole tokenize
        // pipeline on both sides — no exchange reuse fires). df then
        // comes from a map-side-combinable groupBy(term).count() over
        // the cached tf, NOT count().over(Window.partitionBy(term)):
        // a window partitions ALL postings of a term into one task, so
        // a stopword key at corpus scale pins ~N rows on one executor,
        // while the hash aggregate reduces every hot key to one row per
        // map task before the shuffle. MEMORY_AND_DISK via
        // Caching.persistTracked: tf spills instead of OOMing, and the
        // action runner (Verify/Bench/session) releases the entry so it
        // doesn't outlive the query.
        val tf = graft.Caching.persistTracked(
          toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs.select(count(lit(1)).as("n_docs"))
        tf.join(df, Seq("term"))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            (col("tf").cast("double") *
              (((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
                (col("df").cast("double") + lit(0.5)))).as("tfidf"))
      },
      sql"""WITH tok AS (
        |  SELECT doc_id, unnest(${OracleSql.tokens("text")}) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |tfdf AS (SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term) AS df FROM tf),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, term, tf, df,
        |       CAST(tf AS DOUBLE) *
        |         ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) AS tfidf
        |FROM tfdf CROSS JOIN n""", coalesceByBytes = true),

    // BM25 keyword retrieval, top-20: the full ranking function in
    // bit-portable form. Exact-integer tf/df/dl/N; the idf is the
    // rational (N−df+0.5)/(df+0.5) (ln() is not bit-portable — CLAUDE
    // .md); avgdl and each score factor are fixed-order IEEE ops. The
    // postings filter to the 3 query terms BEFORE any aggregation (at
    // 100 TB only the query terms' postings ever leave the scan), df
    // and corpus stats are 1-row/3-row broadcasts, and the per-doc
    // combination is a PIVOT + fixed-order addition — never a float
    // sum() whose partition order could differ between engines (x+0.0
    // is exact, so absent terms coalesce to 0 safely).
    "q_bm25" -> QueryDef(
      (s, dir) => bm25DocScores(s, dir)
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(20),
      sql"""WITH $Bm25CtesSql
        |SELECT doc_id, bm25, n_terms FROM bm25doc
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 20"""),

    // Hybrid retrieval: Reciprocal-Rank Fusion (Cormack et al., SIGIR
    // 2009) of the BM25 top-20 with the dense cosine top-20 for one
    // query (query text = the BM25 terms; query vector = doc 0's
    // embedding, candidates = every other doc) — the standard RAG
    // serving composition, as one oracle-gated query. Both arms rank
    // with row_number over a (score DESC, doc_id) total order; the
    // fused score 1/(60+rank) + 1/(60+rank) is IEEE division of exact
    // ints in FIXED arm order, so it hash-verifies. Missed-by-one-arm
    // ranks surface as −1 (BIGINT, never NULL — pandas dtype). Scale:
    // each arm is a distributed top-k (bounded-heap / broadcast-query
    // cosine); the fusion itself touches ≤ 40 rows per query.
    // TEST-DATA STAND-IN (the q_ann_* vec-id-as-doc convention): the
    // keyword arm ranks documents.doc_id and the dense arm ranks
    // embeddings.vec_id — two unrelated id domains fused as one key
    // space, which exercises the full fusion machinery (including the
    // missed-by-one-arm −1 path, heavily, since the domains barely
    // overlap) but is NOT a semantic end-to-end hybrid retrieval of
    // one corpus; a real deployment fuses two rankings OF THE SAME
    // document ids.
    "q_hybrid_rrf" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val bmTop = bm25DocScores(s, dir)
          .orderBy(col("bm25").desc, col("doc_id").asc).limit(20)
        // ≤ 20 rows: the global window runs on the already-reduced head
        val kw = bmTop.select(col("doc_id"),
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id").asc))
            .cast("long").as("r"))
        val emb = Tables.embeddings(s, dir)
        val dense = graft.operators.Similarity.bruteForceTopK(
            emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 20)
          .select(col("neighbor_id").as("doc_id"), col("rank").as("r"))
        graft.operators.Retrieval.rrfFuse(Seq(kw, dense), Seq("doc_id"), "r", k = 60)
          .select(col("doc_id"), col("rank_0").as("kw_rank"),
            col("rank_1").as("vec_rank"), col("rrf_score"))
      },
      sql"""WITH $Bm25CtesSql,
        |kw AS (
        |  SELECT doc_id, kw_rank FROM (
        |    SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS kw_rank
        |    FROM bm25doc)
        |  WHERE kw_rank <= 20),
        |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |dscored AS (
        |  SELECT vec_id AS doc_id,
        |         ${OracleSql.cosine("qv", "cv")} AS cos_sim
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id <> 0)
        |  CROSS JOIN qv),
        |vec AS (
        |  SELECT doc_id, vec_rank FROM (
        |    SELECT doc_id, CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS vec_rank
        |    FROM dscored)
        |  WHERE vec_rank <= 20)
        |SELECT coalesce(kw.doc_id, vec.doc_id) AS doc_id,
        |       CAST(coalesce(kw_rank, -1) AS BIGINT) AS kw_rank,
        |       CAST(coalesce(vec_rank, -1) AS BIGINT) AS vec_rank,
        |       (CASE WHEN kw_rank IS NULL THEN CAST(0 AS DOUBLE)
        |             ELSE CAST(1.0 AS DOUBLE) / CAST(60 + kw_rank AS DOUBLE) END)
        |       + (CASE WHEN vec_rank IS NULL THEN CAST(0 AS DOUBLE)
        |              ELSE CAST(1.0 AS DOUBLE) / CAST(60 + vec_rank AS DOUBLE) END) AS rrf_score
        |FROM kw FULL JOIN vec ON kw.doc_id = vec.doc_id"""),

    // Deterministic train/valid/test split: portable-hash bucketing
    // (never rand() — see operators/Splits scaladoc). Reproducible
    // across engines, runs, retries, and partitionings; no shuffle.
    "q_split_hash" -> QueryDef(
      (s, dir) => graft.operators.Splits.assign(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id", salt = "graft-v1"),
      sql"""SELECT doc_id, bucket,
        |       $SplitCase
        |FROM (SELECT doc_id,
        |             ${hash60("'graft-v1:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
        |      FROM documents)"""),

    // Heavy hitters, sketch-prefiltered but EXACT: pass 1 is a single
    // Misra–Gries aggregate (32 counters/task, candidates guaranteed ⊇
    // every token with freq > n/33 — see functions/FreqSketch), pass 2
    // recounts ONLY the ≤32 candidates behind a broadcast join and
    // keeps freq > n/30. At 100 TB the exact one-pass groupBy holds
    // per-task state ∝ distinct tokens (billions → spill); this holds
    // 32 entries, yet the OUTPUT is deterministic exact counts — which
    // is why a plain GROUP BY/HAVING oracle can hash-match a
    // merge-order-dependent sketch. (30 < 33 ⇒ every token above the
    // threshold is guaranteed into the candidate set.)
    "q_heavy_hitters" -> QueryDef(
      (s, dir) => {
        val toks = graft.Tables.fanOut(Tables.documents(s, dir).select(col("text")))
          .select(explode(TextFns.tokens(col("text"))).as("token"))
        val sk = toks
          .agg(graft.functions.FreqSketch.mg_candidates(col("token"), 32).as("sk"))
          .select(explode(col("sk.items")).as("token"), col("sk.n").as("n"))
        toks.join(broadcast(sk), Seq("token"))
          .groupBy(col("token"), col("n"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * 30 > col("n"))
          .select(col("token"), col("cnt"))
      },
      sql"""WITH tok AS (
        |  SELECT unnest(${OracleSql.tokens("text")}) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM tok)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok CROSS JOIN tot
        |GROUP BY token, n
        |HAVING count(*) * 30 > n""", coalesceByBytes = true),

    // Grouped heavy hitters: the Misra–Gries sketch composes per group
    // — one MG aggregate PER LANGUAGE (32 counters per group per task,
    // still constant memory), exact recount of the per-group candidates
    // behind a (lang, token) semi join, per-group threshold n_lang/30.
    // Same deterministic-exact-output contract as q_heavy_hitters, so
    // the plain per-group GROUP BY/HAVING oracle hash-matches the
    // sketch path here too.
    "q_heavy_hitters_lang" -> QueryDef(
      (s, dir) => {
        val toks = graft.Tables.fanOut(
            Tables.documents(s, dir).select(col("lang"), col("text")))
          .select(col("lang"), explode(TextFns.tokens(col("text"))).as("token"))
        val sk = toks.groupBy(col("lang"))
          .agg(graft.functions.FreqSketch.mg_candidates(col("token"), 32).as("sk"))
          .select(col("lang"), explode(col("sk.items")).as("token"),
            col("sk.n").as("n"))
        toks.join(broadcast(sk), Seq("lang", "token"))
          .groupBy(col("lang"), col("token"), col("n"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * 30 > col("n"))
          .select(col("lang"), col("token"), col("cnt"))
      },
      sql"""WITH tok AS (
        |  SELECT lang, unnest(${OracleSql.tokens("text")}) AS token
        |  FROM documents),
        |tot AS (SELECT lang, count(*) AS n FROM tok GROUP BY lang)
        |SELECT tok.lang, token, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok JOIN tot ON tok.lang = tot.lang
        |GROUP BY tok.lang, token, n
        |HAVING count(*) * 30 > n""")
  )
}
