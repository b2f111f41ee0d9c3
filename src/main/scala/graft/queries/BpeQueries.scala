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

  // declared BEFORE defs — object init order (see CLAUDE.md)
  private val preSql =
    s"""pre AS (SELECT doc_id,
       |  unnest(regexp_extract_all(lower(text), '${TextFns.BpePattern}')) AS w
       |  FROM documents)""".stripMargin

  // merged symbols are the contiguous PUA block [U+E000, U+E000+n)
  private val puaClass =
    f"[\\x{e000}-\\x{${0xE000 + BpeMerges.merges.size - 1}%04x}]"

  val defs: Seq[(String, QueryDef)] = Seq(

    // Per-document tokenizer stats: pre-tokens, BPE tokens after the
    // frozen merges, and how many emitted tokens are merged (multi-char)
    // symbols — the counts q_token_budget-style ops would consume.
    "q_bpe_encode" -> QueryDef(
      (s, dir) => Bpe.tokenStats(Tables.documents(s, dir)),
      s"""WITH $preSql,
         |${Bpe.duckEncodeCtes("pre", "w", Seq("doc_id"))}
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(length(s)) AS BIGINT) AS n_tokens,
         |       CAST(sum(length(s) - length(regexp_replace(s, '$puaClass', '', 'g'))) AS BIGINT) AS n_merged
         |FROM bpe_enc GROUP BY doc_id"""),

    // Tokenizer-eval metrics per doc: fertility (tokens per pre-token)
    // and whole-word coverage of the frozen merge table — each ONE IEEE
    // division from exact BIGINT counts, so the floats hash-verify.
    "q_bpe_fertility" -> QueryDef(
      (s, dir) => Bpe.fertility(Tables.documents(s, dir)),
      s"""WITH $preSql,
         |${Bpe.duckEncodeCtes("pre", "w", Seq("doc_id"))}
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(length(s)) AS BIGINT) AS n_tokens,
         |       CAST(sum(CASE WHEN length(s) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_whole,
         |       CAST(sum(length(s)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility,
         |       CAST(sum(CASE WHEN length(s) = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(count(*) AS DOUBLE) AS whole_rate
         |FROM bpe_enc GROUP BY doc_id"""),

    // Corpus-wide decoded-token frequencies, top 100 by (freq desc,
    // token asc) — the "what did the tokenizer learn" view. The symbol
    // explode runs over the distinct-word dictionary only.
    "q_bpe_vocab" -> QueryDef(
      (s, dir) => Bpe.vocabFreq(Tables.documents(s, dir), k = 100),
      s"""WITH $preSql,
         |wc AS (SELECT w, count(*) AS n FROM pre GROUP BY w),
         |${Bpe.duckEncodeCtes("wc", "w", Seq("n"))},
         |syms AS (SELECT n, s,
         |           unnest([{'pos': p} for p in generate_series(1, length(s))],
         |                  recursive := true)
         |         FROM bpe_enc),
         |freqs AS (SELECT v.token AS token, CAST(sum(n) AS BIGINT) AS freq
         |          FROM syms JOIN ${Bpe.duckVocabValues}
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
      Bpe.duckTrainSql(96)))
}
