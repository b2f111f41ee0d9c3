package graft

import org.apache.spark.sql.functions._
import graft.operators.BloomJoin

/** Bloom-prefiltered joins (operators/BloomJoin): exactness under any
  * sketch size, prefilter superset semantics, and the plan shape (the
  * might-contain probe sits BELOW the join, on the probe side's scan
  * path — that placement is the whole point of the operator). */
class BloomJoinSpec extends SparkSpec {

  private def nationSuppliers = Tables.supplier(spark, sf001)
    .join(Tables.nation(spark, sf001).filter(col("n_name") === "NATION_3"),
      col("s_nationkey") === col("n_nationkey"))
    .select(col("s_suppkey"))

  private def plainSemi = Tables.lineitem(spark, sf001)
    .join(nationSuppliers, col("l_suppkey") === col("s_suppkey"), "left_semi")

  test("semiJoin is exact for a well-sized bloom") {
    val got = BloomJoin.semiJoin(Tables.lineitem(spark, sf001), col("l_suppkey"),
      nationSuppliers, col("s_suppkey"), expectedItems = 100000L)
    assert(got.count() == plainSemi.count())
    assert(got.select("l_orderkey", "l_linenumber").except(
      plainSemi.select("l_orderkey", "l_linenumber")).isEmpty)
  }

  test("semiJoin stays exact with a deliberately undersized bloom (false positives rescued by the exact join)") {
    // expectedItems=1 for ~40 keys → high FP rate in the prefilter;
    // the exact join must still produce the identical result
    val got = BloomJoin.semiJoin(Tables.lineitem(spark, sf001), col("l_suppkey"),
      nationSuppliers, col("s_suppkey"), expectedItems = 1L)
    assert(got.count() == plainSemi.count())
  }

  test("prefilter is a superset of the exact match set") {
    val li = Tables.lineitem(spark, sf001)
    val pre = BloomJoin.prefilter(li, col("l_suppkey"),
      nationSuppliers, col("s_suppkey"), expectedItems = 1000L)
    assert(pre.count() >= plainSemi.count())
    // no exact-match row is ever bloom-negative (no false negatives)
    assert(plainSemi.select("l_orderkey", "l_linenumber")
      .except(pre.select("l_orderkey", "l_linenumber")).isEmpty)
  }

  test("the might-contain probe evaluates below the join, on the probe side") {
    val got = BloomJoin.semiJoin(Tables.lineitem(spark, sf001), col("l_suppkey"),
      nationSuppliers, col("s_suppkey"), expectedItems = 1000L)
    val plan = got.queryExecution.executedPlan.toString
    val probeAt = plan.toLowerCase.indexOf("might_contain")
    val joinAt = plan.toLowerCase.indexOf("join")
    assert(probeAt >= 0, s"no bloom probe in plan:\n$plan")
    // executedPlan prints top-down: the probe must appear AFTER (below)
    // the join operator line
    assert(joinAt >= 0 && probeAt > joinAt,
      s"bloom probe not below the join:\n$plan")
  }

  test("SQL surface: bloom_filter_agg + bloom_might_contain round-trip") {
    GraftExtensions.registerOn(spark)
    Tables.supplier(spark, sf001).createOrReplaceTempView("bj_supplier")
    Tables.lineitem(spark, sf001).createOrReplaceTempView("bj_lineitem")
    val viaSql = spark.sql(
      """SELECT count(*) AS n FROM bj_lineitem
        |WHERE bloom_might_contain(
        |        (SELECT bloom_filter_agg(xxhash64(s_suppkey), 100000) FROM bj_supplier
        |         WHERE s_suppkey < 10),
        |        xxhash64(l_suppkey))""".stripMargin).collect().head.getLong(0)
    val exact = Tables.lineitem(spark, sf001)
      .filter(col("l_suppkey") < 10).count()
    // prefilter is a superset; with 100k capacity for 10 keys the FP
    // rate is ~0, but only the >= bound is contractual
    assert(viaSql >= exact)
  }
}
