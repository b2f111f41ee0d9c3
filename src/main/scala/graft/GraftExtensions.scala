package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, PairsGenerator, PortableHash60, SketchAggs}

/** Session extension wiring: registers the engine's custom Catalyst
  * expressions as SQL functions, so the pure-SQL surface has the same
  * vocabulary as the Scala API:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions)
  *
  *   SELECT cosine_similarity(a.embedding, b.embedding) FROM ...
  *   SELECT pairs(items) AS (x, y) FROM baskets
  *   SELECT minhash_agg(xxhash64(shingle), 64) FROM ... GROUP BY doc_id
  *   SELECT simhash_agg(xxhash64(token)) FROM ... GROUP BY doc_id
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughTopKPerKey)
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** One source of truth for the SQL surface — consumed by the
    * extensions injector at session build AND by [[registerOn]] for
    * sessions that already exist (getOrCreate ignores withExtensions
    * when it returns an existing session). */
  private def requireArity(name: String, args: Seq[Expression], ok: Int => Boolean): Unit =
    if (!ok(args.length)) throw new IllegalArgumentException(
      s"$name: invalid number of arguments (${args.length})")

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity", "_FUNC_(a, b) - cosine similarity of two float arrays (fused native loop)"),
      (args: Seq[Expression]) => {
        requireArity("cosine_similarity", args, _ == 2)
        CosineSimilarity(args(0), args(1))
      }),
    (FunctionIdentifier("portable_hash60"),
      info("portable_hash60", "_FUNC_(s) - md5-derived 60-bit hash, bit-identical to CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) in DuckDB"),
      (args: Seq[Expression]) => {
        requireArity("portable_hash60", args, _ == 1)
        PortableHash60(args.head)
      }),
    (FunctionIdentifier("pairs"),
      info("pairs", "_FUNC_(arr) - generates every canonical (x < y) pair from an array"),
      (args: Seq[Expression]) => {
        requireArity("pairs", args, _ == 1)
        PairsGenerator(args.head)
      }),
    (FunctionIdentifier("minhash_agg"),
      info("minhash_agg", "_FUNC_(hash64[, k]) - k-hash MinHash signature of a pre-hashed column; k must be a literal"),
      (args: Seq[Expression]) => {
        requireArity("minhash_agg", args, n => n == 1 || n == 2)
        val k = if (args.length > 1) {
          if (!args(1).foldable) throw new IllegalArgumentException(
            "minhash_agg: k must be a literal integer")
          args(1).eval().asInstanceOf[Number].intValue()
        } else 64
        SketchAggs.MinHashAgg(args.head, k).toAggregateExpression()
      }),
    (FunctionIdentifier("simhash_agg"),
      info("simhash_agg", "_FUNC_(hash64) - 64-bit SimHash of a pre-hashed token column"),
      (args: Seq[Expression]) => {
        requireArity("simhash_agg", args, _ == 1)
        SketchAggs.SimHashAgg(args.head).toAggregateExpression()
      }),
    // the runtime-filter expression pair (BloomJoin operator), exposed
    // to SQL: SELECT ... WHERE bloom_might_contain((SELECT
    // bloom_filter_agg(xxhash64(k), 1000) FROM dim), xxhash64(fact_k))
    (FunctionIdentifier("bloom_filter_agg"),
      info("bloom_filter_agg", "_FUNC_(hash64[, expectedItems]) - bloom filter blob over a pre-hashed key column"),
      (args: Seq[Expression]) => {
        requireArity("bloom_filter_agg", args, n => n == 1 || n == 2)
        val agg = if (args.length > 1) {
          if (!args(1).foldable) throw new IllegalArgumentException(
            "bloom_filter_agg: expectedItems must be a literal")
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
            args.head, args(1).eval().asInstanceOf[Number].longValue())
        } else {
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(args.head)
        }
        agg.toAggregateExpression()
      }),
    (FunctionIdentifier("bloom_might_contain"),
      info("bloom_might_contain", "_FUNC_(bloom, hash64) - probe a bloom blob (constant or scalar subquery)"),
      (args: Seq[Expression]) => {
        requireArity("bloom_might_contain", args, _ == 2)
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(args(0), args(1))
      }))

  /** Register on an already-built session (idempotent): SQL functions
    * via the function registry, the top-k filter-pushdown rule via
    * experimental.extraOptimizations, and the TopKPerKey planner
    * strategy via experimental.extraStrategies (the post-build
    * counterparts of injectOptimizerRule / injectPlannerStrategy).
    *
    * extraOptimizations run in the optimizer's FINAL "User Provided
    * Optimizers" batch — after every built-in predicate-pushdown
    * batch — so PushFilterThroughTopKPerKey re-applies Catalyst's
    * PushDownPredicates to fixpoint on the subtree it rewrites: a key
    * filter pushed below the node keeps descending to the scan on this
    * path too (pinned in ExtensionsSpec). Sessions built with
    * `spark.sql.extensions=graft.GraftExtensions` get the rule inside
    * the main operatorOptimization batch where descent is free;
    * registerOn is the test/REPL fallback for sessions that already
    * exist. */
  def registerOn(spark: org.apache.spark.sql.SparkSession): Unit = {
    registrations.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
    val rule = graft.plans.PushFilterThroughTopKPerKey
    if (!spark.experimental.extraOptimizations.contains(rule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKeyStrategy
  }
}
