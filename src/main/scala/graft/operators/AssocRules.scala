package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association rules: support & confidence for item→item,
  * the capability of the reference's ESERCIZIO 3
  * (`/root/reference/BD_hw1/src/spark/SupportAndConfidence.java:48-216`).
  *
  * Reference plan: extra full pass for the global count (accumulator),
  * then two wide shuffles of pair *records* (reduceByKey + a reduce-side
  * join in disguise via re-key + groupByKey). Spark-native plan here:
  *
  *   items (distinct)  ── groupBy(item).count ──► itemCnt  (vocabulary-sized)
  *        │ self-join on basket, i1 < i2
  *        ▼
  *   pairCnt ── union of both rule directions ── ⋈ broadcast(itemCnt)
  *           ── ⨯ broadcast(total_baskets scalar) ──► support, confidence
  *
  * Shuffles: one for `distinct`, one for the pair aggregation; the
  * antecedent-count join and the global-total "join" are both broadcasts,
  * and the scalar total is computed inside the same plan (no driver
  * `collect`, no second job — contrast with the reference's
  * accumulator pre-pass, SURVEY §3.3 stage 1).
  *
  * Semantics pinned per SURVEY §2.7: no self-rules (Q5), canonical sorted
  * pair via `<` (halves pair space), fractions not percentages (Q3),
  * named output columns (Q4).
  *
  * Scale: the basket self-join is O(k²) rows per basket (k = basket
  * size). For retail-sized baskets (k ≤ ~100) this is the right plan at
  * 100 TB: both sides shuffle-partition on basket id, pairs are generated
  * co-located, and the following aggregation is partial+final. A skewed
  * giant basket would need a per-basket k cap or salting — see
  * `maxBasketSize`.
  */
object AssocRules {

  /** @param baskets   (basketId, item) rows, not necessarily distinct
    * @param maxBasketSize optional guard: drop baskets larger than this
    *        (pair blowup guard for adversarial skew; None = no cap)
    */
  def rules(baskets: DataFrame, basketCol: String, itemCol: String,
            maxBasketSize: Option[Int] = None): DataFrame = {
    // bid keeps its NATIVE type: a cast("long") here would silently NULL
    // every non-numeric basket id (string/UUID keys) and collapse ALL
    // such baskets into one giant null basket — wrong rules AND a pair
    // blowup (r12 review). groupBy/join key on any comparable type.
    // A literal NULL bid is the same failure in miniature: groupBy and
    // the pair self-join would keep the NULL group and merge every
    // unkeyed row into one phantom basket — drop them up front (a NULL
    // key is no basket, the Graph.symmetrize rule). NULL equi-join
    // keys never match, so the pair path would ALSO silently diverge
    // from the keyed counts without this filter.
    // filter on the RENAMED column: referencing col(basketCol) after
    // the select only resolves through the analyzer's missing-attribute
    // fallback, which breaks silently if anything (distinct, another
    // projection) lands between — the Graph.coOccurrenceEdges form
    val items0 = baskets
      .select(col(basketCol).as("bid"), col(itemCol).as("item"))
      .filter(col("bid").isNotNull)
      .distinct()
    val items = maxBasketSize match {
      case Some(cap) =>
        // Basket sizes via map-side-combinable groupBy + left-semi join
        // on the keep set — NEVER a window on the hot basket key (the
        // house rule the cap path itself exists to defend: the cap
        // guards against a mega-basket, exactly the input on which a
        // window's per-bid sort hurts most; the keyed count partial-aggs
        // the mega-basket down to one row before it ever shuffles).
        val keep = items0.groupBy(col("bid"))
          .agg(count(lit(1)).as("_bsz"))
          .filter(col("_bsz") <= cap)
          .select(col("bid"))
        items0.join(keep, Seq("bid"), "left_semi")
      case None => items0
    }

    // total baskets + per-item counts, both re-entering via broadcast
    val total = items.agg(countDistinct(col("bid")).as("total_baskets"))
    val itemCnt = items.groupBy(col("item").as("antecedent"))
      .agg(count(lit(1)).as("antecedent_cnt"))

    val a = items.select(col("bid"), col("item").as("x"))
    val b = items.select(col("bid"), col("item").as("y"))
    val pairCnt = a.join(b, Seq("bid"))
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("pair_cnt"))

    finishRules(pairCnt, itemCnt, total)
  }

  /** Same rules, array-shaped input: one row per basket with an items
    * array (dialect-A's native shape). Pair generation runs map-side
    * through the custom [[graft.functions.PairsGenerator]] — no
    * self-join, no distinct pass; the only shuffles are the two keyed
    * aggregations. Preferred path when baskets are already arrays. */
  def rulesFromBasketArrays(baskets: DataFrame, itemsCol: String): DataFrame = {
    val (itemCnt, pairCnt, total) = basketCounts(baskets, itemsCol)
    finishRules(pairCnt, itemCnt.toDF("antecedent", "antecedent_cnt"), total)
  }

  /** ESERCIZIO 3's three counts over array-shaped baskets: per-item
    * counts `(item, item_cnt)`, per-pair counts `(x, y, pair_cnt)` and
    * the one-row `total_baskets`. Batch or streaming input alike (the
    * streaming Q3 maintains exactly these three tables). */
  def basketCounts(baskets: DataFrame, itemsCol: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.functions.PairsGenerator.pairs
    val arr = array_distinct(col(itemsCol))
    val itemCnt = baskets.select(explode(arr).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("item_cnt"))
    // PairsGenerator sorts and dedups internally — no pre-distinct
    val pairCnt = baskets.select(pairs(col(itemsCol)).as(Seq("x", "y")))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("pair_cnt"))
    // total = baskets with ≥1 item, matching rules()'s countDistinct over
    // exploded item rows (an empty basket can never contain a pair, so it
    // must not inflate the support denominator)
    val total = baskets.agg(count(when(size(arr) >= 1, lit(1))).as("total_baskets"))
    (itemCnt, pairCnt, total)
  }

  /** Shared tail: directed-rule expansion + antecedent-count join +
    * global-total scalar. */
  private def finishRules(pairCnt: DataFrame, itemCnt: DataFrame,
                          total: DataFrame): DataFrame = {
    // Rule expansion (pair → 2 directed rules) as a generator over the
    // aggregated pairs — NOT a unionAll of two projections, which would
    // plant the whole pair-generation subtree twice in the physical plan.
    val directed = pairCnt.select(
      explode(array(
        struct(col("x").as("antecedent"), col("y").as("consequent")),
        struct(col("y").as("antecedent"), col("x").as("consequent")))).as("rule"),
      col("pair_cnt"))
      .select(col("rule.antecedent"), col("rule.consequent"), col("pair_cnt"))

    // No explicit broadcast hint on itemCnt: it is vocabulary-sized —
    // tiny for retail vocabularies (always broadcast), but potentially
    // millions of keys in a catalog-scale run. AQE observes the actual
    // built size at runtime and converts the shuffle join to broadcast
    // exactly when that's safe.
    directed
      .join(itemCnt, Seq("antecedent"))
      .crossJoin(broadcast(total))
      .select(
        col("antecedent"), col("consequent"), col("pair_cnt"),
        (col("pair_cnt") / col("total_baskets")).as("support"),
        (col("pair_cnt") / col("antecedent_cnt")).as("confidence"))
  }
}
