package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SeededDraw

/** Seeded, distributed billing-data generator — capability parity with
  * the reference's driver-side generator
  * (`/root/reference/BD_hw1/src/generator/ItemBillingGenerator.java:16-34`,
  * `FoodGenerator.java:15-44`, `RandomDateGenerator.java:7-14`), which
  * writes 1M lines through a single PrintStream on one machine.
  *
  * Same distribution, Spark-native mechanics (FIXTURES.md §5):
  *  - basket size: uniform 1..max-1 (`Random.nextInt(max)` with 0→1);
  *  - items: `size` uniform draws from the vocabulary, then dedup —
  *    realized basket size skews small, exactly like the reference's
  *    HashSet dedup;
  *  - date: uniform day-of-year 2015, rendered NON-zero-padded (y-M-d);
  *  - fully deterministic from (seed, rowId) via xxhash64 — no RNG
  *    state, so any partitioning/retry yields identical data, and
  *    generation scales linearly with `spark.range(n)` parallelism.
  *
  * Each row is one codegen'd [[graft.functions.SeededDraw]] call over
  * `spark.range`'s id: `basket_items` draws a basket's items, and
  * `billing_line` renders a whole dialect-A or dialect-B line from the
  * same draws, with no intermediate array. No generator plan carries a
  * lambda (PlanAuditSpec).
  */
object DataGen {

  val DefaultVocab: Seq[String] = Seq(
    "uova", "latte", "pane", "vino", "pesce", "insalata", "formaggio", "dolce")

  /** Deterministic uniform value in [0, bound) from (seed, id, tag). */
  private def draw(bound: Int, tag: String, seed: Long) =
    pmod(xxhash64(col("billId"), lit(tag), lit(seed)), lit(bound.toLong))

  private def requireBasketArgs(maxItems: Int, vocab: Seq[String]): Unit =
    require(maxItems >= 1 && vocab.nonEmpty,
      s"need maxItems >= 1 (got $maxItems) and a non-empty vocab " +
        "(pmod by zero would NULL every basket)")

  /** Baskets as (billId, date DATE, items ARRAY<STRING>). */
  def baskets(spark: SparkSession, n: Long, maxItems: Int = 10,
              vocab: Seq[String] = DefaultVocab, seed: Long = 42L): DataFrame = {
    requireBasketArgs(maxItems, vocab)
    spark.range(n).select(col("id").as("billId"))
      .select(col("billId"),
        // 2015 is not a leap year
        date_add(lit(java.sql.Date.valueOf("2015-01-01")), draw(365, "day", seed).cast("int")).as("date"),
        SeededDraw.basketItems(col("billId"), vocab, maxItems, seed).as("items"))
  }

  private def lines(spark: SparkSession, n: Long, maxItems: Int, vocab: Seq[String],
                    seed: Long, priced: Boolean): Dataset[String] = {
    import spark.implicits._
    requireBasketArgs(maxItems, vocab)
    spark.range(n)
      .select(SeededDraw.billingLine(col("id"), vocab, maxItems, seed, priced).as("line"))
      .as[String]
  }

  /** Reference-format dialect-A text lines (`2015-3-7,pane,latte`) —
    * non-padded dates, basket items comma-joined. Round-trips through
    * BillingReader.dialectA. */
  def dialectALines(spark: SparkSession, n: Long, maxItems: Int = 10,
                    vocab: Seq[String] = DefaultVocab, seed: Long = 42L): Dataset[String] =
    lines(spark, n, maxItems, vocab, seed, priced = false)

  /** Seeded synthetic document corpus with CONTROLLED duplicate
    * structure, for dedup benchmarking at arbitrary scale (the
    * reference's generator only makes billing lines; dedup needs a
    * corpus whose true duplicate rate is known by construction).
    *
    * Per 100 docs: `exactPct` are verbatim copies of a shared template,
    * `nearPct` are copies with ~5% of token positions substituted
    * (near-duplicates a shingle/MinHash pass must still catch), the
    * rest are unique. Templates live in a pool of `n/20` so duplicate
    * clusters have expected size ≥ 2 at every n. Token stream is
    * deterministic from (template, position, seed); length 30..89
    * tokens is template-keyed, so copies agree on length.
    *
    * Mechanics mirror [[baskets]]: each doc's kind and template are
    * column expressions over `spark.range(n)`, and its token text is
    * one codegen'd `doc_text` call ([[graft.functions.SeededDraw]]) —
    * no RNG state, no driver loop, identical data under any
    * partitioning/retry, generation cost linear in n across however
    * many tasks `range` plans.
    *
    * @return (doc_id BIGINT, kind STRING in {unique,exact,near}, text)
    */
  def documents(spark: SparkSession, n: Long, vocabSize: Int = 5000,
                exactPct: Int = 10, nearPct: Int = 10,
                seed: Long = 42L): DataFrame = {
    require(exactPct >= 0 && nearPct >= 0 && exactPct + nearPct <= 100,
      s"duplicate percentages must fit in [0,100]: exact=$exactPct near=$nearPct")
    val pool = math.max(1L, n / 20L)
    def h(tag: String, cols: org.apache.spark.sql.Column*) =
      xxhash64(cols :+ lit(tag) :+ lit(seed): _*)
    spark.range(n).select(col("id").as("doc_id"))
      .withColumn("_roll", pmod(h("roll", col("doc_id")), lit(100L)))
      .withColumn("kind",
        when(col("_roll") < exactPct, lit("exact"))
          .when(col("_roll") < exactPct + nearPct, lit("near"))
          .otherwise(lit("unique")))
      // unique docs template on their own id in a disjoint namespace
      .withColumn("_tpl",
        when(col("kind") === "unique", col("doc_id") + lit(n))
          .otherwise(pmod(h("tpl", col("doc_id")), lit(pool))))
      .select(col("doc_id"), col("kind"),
        SeededDraw.docText(col("doc_id"), col("_tpl"), col("kind") === "near", vocabSize, seed)
          .as("text"))
  }

  /** Dialect-B priced lines (`2015-1-3,15 pane,12 uova`) — the reference
    * never shipped a generator for this dialect (SURVEY §1.1 ⚠); costs
    * are deterministic 1..20 per (billing, item). */
  def dialectBLines(spark: SparkSession, n: Long, maxItems: Int = 10,
                    vocab: Seq[String] = DefaultVocab, seed: Long = 42L): Dataset[String] =
    lines(spark, n, maxItems, vocab, seed, priced = true)
}
