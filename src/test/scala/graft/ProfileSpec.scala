package graft

import graft.operators.Profile

/** Profiling operators: per-type numeric-view semantics, null counting,
  * the approx (HLL) mode's plan shape + accuracy, and histogram
  * completeness/boundary behavior. */
class ProfileSpec extends SparkSpec {
  import spark.implicits._

  private def mixed = Seq(
    (1L, Some("aa"), Some(2.0)),
    (2L, Some("bbbb"), None),
    (3L, None, Some(8.0)),
    (3L, Some("aa"), Some(8.0))).toDF("id", "s", "v")

  test("profile: nulls, distincts, and typed numeric views") {
    val p = Profile.profile(mixed, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(p("id") == (4L, 0L, 3L, 1.0, 3.0))
    // strings profile LENGTH; nulls excluded from distinct and range
    assert(p("s") == (4L, 1L, 2L, 2.0, 4.0))
    assert(p("v") == (4L, 1L, 2L, 2.0, 8.0))
  }

  test("profile approx mode: no Expand in the plan, estimates near exact") {
    val li = Tables.lineitem(spark, sf001)
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity")
    val exact = Profile.profile(li, cols, exact = true)
    val approx = Profile.profile(li, cols, exact = false)
    // exact multi-distinct needs Expand; the HLL mode must NOT (that is
    // the 100 TB point: constant memory, no x(cols+1) row blowup)
    assert(exact.queryExecution.executedPlan.toString.contains("Expand"))
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"))
    val e = exact.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    approx.collect().foreach { r =>
      val (c, a) = (r.getString(0), r.getLong(3))
      assert(math.abs(a - e(c)).toDouble / e(c) < 0.05, s"$c: ${e(c)} vs $a")
    }
  }

  test("histogram: buckets partition the range, counts total, max lands in last bucket") {
    val df = (0 to 100).map(_.toDouble).toDF("x")
    val h = Profile.histogram(df, "x", nBuckets = 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .toMap
    assert(h.keySet == (0L to 9L).toSet)
    assert(h.values.map(_._3).sum == 101L)
    assert(h(0L)._1 == 0.0 && h(9L)._2 == 100.0)
    // x = 100 (the max) clamps into bucket 9: 10 interior + the max
    assert(h(9L)._3 == 11L)
    // constant column: single bucket carries everything
    val const = Seq(5.0, 5.0, 5.0).toDF("x")
    val hc = Profile.histogram(const, "x", 4).collect()
    assert(hc.length == 1 && hc.head.getLong(0) == 0L && hc.head.getLong(3) == 3L)
  }

  test("histogram: NULLs land in one NULL-bucket row — also for constant columns") {
    // the constant-column arm doesn't reference the value, so NULLs
    // there were once swept into bucket 0
    val const = Seq(Some(5.0), Some(5.0), None, None).toDF("x")
    val hc = Profile.histogram(const, "x", 4).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(3)).toMap
    assert(hc == Map(Some(0L) -> 2L, None -> 2L), hc.toString)
    val mixed = Seq(Some(1.0), Some(2.0), None).toDF("x")
    val hm = Profile.histogram(mixed, "x", 2).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(3)).toMap
    assert(hm(None) == 1L && hm(Some(0L)) == 1L && hm(Some(1L)) == 1L)
  }
}
