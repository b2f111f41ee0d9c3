package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{BpeMerges, TextFns}
import graft.operators.Bpe

/** Real BPE tokenization on the frozen [[BpeMerges]] table. The oracle
  * replays the exact merge chain in DuckDB: both engines apply the same
  * rank-ordered 2-char→1-char `replace` steps (left-to-right
  * non-overlapping scan is identical in Java and DuckDB, proven char
  * semantics in BpeSpec), so token counts and decoded token
  * frequencies are bit-comparable integers/strings.
  */
object BpeQueries {

  /** The pre-tokenizer (TextFns.BpePattern over lower-cased text) as
    * CTE `pre(<keep>w)`. */
  private def preCte(keep: String): Sql =
    sql"""pre AS (SELECT ${keep}unnest(regexp_extract_all(lower(text), '${TextFns.BpePattern}')) AS w
       |  FROM documents)"""

  /** `replace`-chain CTE stages over `srcCte(srcCol)`, ≤32 merges per
    * stage so DuckDB's 128-deep expression binder never trips. Emits
    * `stages` CTE text; the final stage is named `bpe_enc` with
    * columns (passCols..., s). Search/replacement chars are spelled
    * `chr(n)` so quoting never matters. */
  private def encodeCtes(srcCte: String, srcCol: String, passCols: Seq[String]): String = {
    val stages = BpeMerges.merges.grouped(32).toSeq
    val keep = passCols.mkString(", ")
    stages.zipWithIndex.map { case (ms, i) =>
      val in = if (i == 0) srcCol else "s"
      val from = if (i == 0) srcCte else s"bpe_e${i - 1}"
      val chain = ms.foldLeft(in) { case (e, (a, b, m, _)) =>
        s"replace($e, chr($a)||chr($b), chr($m))"
      }
      val name = if (i == stages.size - 1) "bpe_enc" else s"bpe_e$i"
      s"$name AS (SELECT $keep, $chain AS s FROM $from)"
    }.mkString(",\n")
  }

  /** Per-document pre-token and BPE token counts over the encoded
    * words; `more` appends the query's own select items. */
  private def docTokenSql(more: Sql): Sql =
    sql"""WITH ${preCte("doc_id, ")},
       |${encodeCtes("pre", "w", Seq("doc_id"))}
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(length(s)) AS BIGINT) AS n_tokens,
       |       $more
       |FROM bpe_enc GROUP BY doc_id"""

  /** The decode table as an inline DuckDB relation (sym, token). */
  private def vocabValues: String =
    BpeMerges.vocab.map { case (sym, tok) =>
      val symSql = s"chr(${sym.codePointAt(0)})"
      s"($symSql, '${tok.replace("'", "''")}')"
    }.mkString("(VALUES ", ", ", ") AS v(sym, token)")

  /** The full training loop as unrolled DuckDB CTE rounds (the
    * q_pagerank pattern at 96 rounds): per round, a pair-count CTE over
    * the current dictionary, a 1-row argmax (ORDER BY cnt DESC, l, r
    * LIMIT 1 — binary string order ≡ codepoint order for 1-char BMP
    * symbols), and the applied `replace`. Dictionary and argmax CTEs
    * are MATERIALIZED — each is referenced twice, and DuckDB's default
    * inlining would expand the round chain exponentially. Verified to
    * reproduce [[graft.functions.BpeMerges]] bit-for-bit on its
    * training corpus (96 rounds, 2.6 s). */
  private def trainSql(numMerges: Int): Sql = {
    val rounds = (0 until numMerges).map { i =>
      sql"""p$i AS (SELECT substr(w, j, 1) AS l, substr(w, j + 1, 1) AS r, n FROM (
         |  SELECT w, n, unnest([{'j': jj} for jj in generate_series(1, length(w) - 1)],
         |                      recursive := true) FROM w$i)),
         |b$i AS MATERIALIZED (SELECT l, r, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM p$i GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1),
         |w${i + 1} AS MATERIALIZED (SELECT replace(w$i.w, b$i.l || b$i.r, chr(${0xE000 + i})) AS w, n
         |  FROM w$i, b$i)"""
    }.mkString(",\n")
    val union = (0 until numMerges)
      .map(i => s"SELECT $i AS rank, l, r, cnt FROM b$i")
      .mkString("\nUNION ALL ")
    sql"""WITH ${preCte("")},
       |w0 AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n FROM pre GROUP BY w),
       |$rounds,
       |merges AS ($union)
       |SELECT CAST(rank AS BIGINT) AS rank, CAST(unicode(l) AS BIGINT) AS left_code,
       |       CAST(unicode(r) AS BIGINT) AS right_code,
       |       CAST(${0xE000} + rank AS BIGINT) AS merged_code, cnt
       |FROM merges"""
  }

  // merged symbols are the contiguous PUA block [U+E000, U+E000+n);
  // declared BEFORE defs: object fields initialize in order
  private val puaClass =
    f"[\\x{e000}-\\x{${0xE000 + BpeMerges.merges.size - 1}%04x}]"

  val defs: Seq[(String, QueryDef)] = Seq(

    // Per-document tokenizer stats: pre-tokens, BPE tokens after the
    // frozen merges, and how many emitted tokens are merged (multi-char)
    // symbols — the counts q_token_budget-style ops would consume.
    "q_bpe_encode" -> QueryDef(
      (s, dir) => Bpe.tokenStats(Tables.documents(s, dir)),
      docTokenSql(sql"CAST(sum(length(s) - length(regexp_replace(s, '$puaClass', '', 'g'))) AS BIGINT) AS n_merged")),

    // Tokenizer-eval metrics per doc: fertility (tokens per pre-token)
    // and whole-word coverage of the frozen merge table — each ONE IEEE
    // division from exact BIGINT counts, so the floats hash-verify.
    "q_bpe_fertility" -> QueryDef(
      (s, dir) => Bpe.fertility(Tables.documents(s, dir)),
      docTokenSql(
        sql"""CAST(sum(CASE WHEN length(s) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_whole,
          |       CAST(sum(length(s)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility,
          |       CAST(sum(CASE WHEN length(s) = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          |         / CAST(count(*) AS DOUBLE) AS whole_rate""")),

    // Corpus-wide decoded-token frequencies, top 100 by (freq desc,
    // token asc) — the "what did the tokenizer learn" view. The symbol
    // explode runs over the distinct-word dictionary only.
    "q_bpe_vocab" -> QueryDef(
      (s, dir) => Bpe.vocabFreq(Tables.documents(s, dir), k = 100),
      sql"""WITH ${preCte("doc_id, ")},
         |wc AS (SELECT w, count(*) AS n FROM pre GROUP BY w),
         |${encodeCtes("wc", "w", Seq("n"))},
         |syms AS (SELECT n, s,
         |           unnest([{'pos': p} for p in generate_series(1, length(s))],
         |                  recursive := true)
         |         FROM bpe_enc),
         |freqs AS (SELECT v.token AS token, CAST(sum(n) AS BIGINT) AS freq
         |          FROM syms JOIN $vocabValues
         |            ON substr(s, pos, 1) = v.sym
         |          GROUP BY v.token)
         |SELECT token, freq,
         |       CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank
         |FROM freqs ORDER BY freq DESC, token LIMIT 100"""),

    // In-engine distributed BPE TRAINING (r10 verdict task 6): 96 merge
    // rounds over the distinct-pretoken dictionary, each round one keyed
    // pair-count agg + a 1-row argmax, applied as a codegen'd replace.
    // The oracle retrains from scratch in DuckDB — 96 unrolled CTE
    // rounds with the same (count desc, l, r) argmax — so the hash
    // match proves distributed round-by-round training ≡ a sequential
    // replay, and on THIS corpus the result is bit-identical to the
    // checked-in BpeMerges constants (the frozen table's own training
    // corpus; BpeSpec pins train() ≡ the FreezeBpeMerges loop besides).
    "q_bpe_train" -> QueryDef(
      (s, dir) => Bpe.train(Tables.documents(s, dir), numMerges = 96),
      trainSql(96), coalesceByBytes = true))
}
