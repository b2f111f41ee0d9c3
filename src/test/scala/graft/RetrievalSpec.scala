package graft

import graft.operators.Retrieval

/** Pins [[Retrieval.rrfFuse]] against the textbook RRF definition
  * (Cormack et al., SIGIR 2009): rrf(d) = Σ_lists 1/(k + rank_list(d))
  * over the lists that retrieved d — including the corners the driver
  * tables can't produce (an id missing from every list but one, three
  * lists, k ≠ 60, per-query keyed fusion).
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(rows: (Long, Long)*) = rows.toDF("doc_id", "r")

  test("two-list fusion matches the hand-computed RRF scores; missing ranks are -1") {
    // list A: docs 1,2,3 at ranks 1,2,3; list B: docs 3,4 at ranks 1,2
    val fused = Retrieval.rrfFuse(
      Seq(ranks(1L -> 1L, 2L -> 2L, 3L -> 3L), ranks(3L -> 1L, 4L -> 2L)),
      Seq("doc_id"), "r", k = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(fused === Array(
      (1L, 1L, -1L, 1.0 / 61),
      (2L, 2L, -1L, 1.0 / 62),
      (3L, 3L, 1L, 1.0 / 63 + 1.0 / 61),
      (4L, -1L, 2L, 1.0 / 62)))
  }

  test("doc in both lists outranks a doc at the same best rank in one list") {
    val fused = Retrieval.rrfFuse(
      Seq(ranks(1L -> 1L, 2L -> 2L), ranks(2L -> 1L)),
      Seq("doc_id"), "r")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
    // doc 2 (ranks 2 and 1) beats doc 1 (rank 1, one list): the
    // consensus property that makes RRF a fusion, not a max
    assert(fused(2L) > fused(1L))
  }

  test("three lists fold in argument order; k parameter respected") {
    val fused = Retrieval.rrfFuse(
      Seq(ranks(7L -> 1L), ranks(7L -> 2L), ranks(7L -> 3L)),
      Seq("doc_id"), "r", k = 10)
      .collect()
    assert(fused.length == 1)
    val row = fused.head
    assert(row.getLong(0) == 7L)
    assert((1 to 3).map(i => row.getLong(i)) == Seq(1L, 2L, 3L))
    // exact IEEE replay of the fixed-order fold
    assert(row.getDouble(4) == (1.0 / 11 + 1.0 / 12) + 1.0 / 13)
  }

  test("per-query keyed fusion never mixes queries") {
    val a = Seq((1L, 10L, 1L), (2L, 10L, 1L)).toDF("query_id", "doc_id", "r")
    val b = Seq((1L, 11L, 1L)).toDF("query_id", "doc_id", "r")
    val fused = Retrieval.rrfFuse(Seq(a, b), Seq("query_id", "doc_id"), "r")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(fused((1L, 10L)) == (1L, -1L))
    assert(fused((1L, 11L)) == (-1L, 1L))
    assert(fused((2L, 10L)) == (1L, -1L))
    assert(fused.size == 3)
  }

  test("empty ranking list and k < 1 are rejected loudly") {
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq.empty, Seq("doc_id"), "r")
    }
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq(ranks(1L -> 1L)), Seq("doc_id"), "r", k = 0)
    }
  }

  test("a rank below 1 (or NULL) fails loudly, never skews the fused score") {
    val e = intercept[Exception] {
      Retrieval.rrfFuse(Seq(ranks(1L -> 0L)), Seq("doc_id"), "r").collect()
    }
    assert(e.getMessage.contains("ranks must be >= 1"), e.getMessage)
    val withNull = spark.sql("SELECT CAST(1 AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS r")
    val e2 = intercept[Exception] {
      Retrieval.rrfFuse(Seq(withNull), Seq("doc_id"), "r").collect()
    }
    assert(e2.getMessage.contains("ranks must be >= 1"), e2.getMessage)
  }

  test("NULL-keyed rows are dropped per list (family NULL-id contract), never fused as phantom rows") {
    // a NULL key can never equi-match in the using-join: without the
    // drop, each list's NULL row passes through the full outer join as
    // its own fused row — the silent corner the r14 verdict flagged
    val withNullKey = spark.sql(
      """SELECT * FROM VALUES (CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
        |(CAST(NULL AS BIGINT), CAST(2 AS BIGINT)) AS t(doc_id, r)""".stripMargin)
    val fused = Retrieval.rrfFuse(Seq(withNullKey, ranks(1L -> 1L)),
      Seq("doc_id"), "r")
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    // only the real key survives, fused across both lists
    assert(fused.toSeq == Seq((1L, 1.0 / 61 + 1.0 / 61)))
  }

  test("assertTotalOrder: a rank() tie (duplicate key in one list) fails loudly; a clean list passes") {
    val tied = Seq((1L, 1L), (1L, 1L), (2L, 3L)).toDF("doc_id", "r")
    val e = intercept[Exception] {
      Retrieval.rrfFuse(Seq(tied), Seq("doc_id"), "r",
        assertTotalOrder = true).collect()
    }
    assert(e.getMessage.contains("not a total order"), e.getMessage)
    // and the assertion is free on a healthy list: same output as without
    val clean = ranks(1L -> 1L, 2L -> 2L)
    val a = Retrieval.rrfFuse(Seq(clean), Seq("doc_id"), "r",
      assertTotalOrder = true).collect().map(_.toSeq).toSet
    val b = Retrieval.rrfFuse(Seq(clean), Seq("doc_id"), "r")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("q_hybrid_rrf: both arms contribute and ranks are consistent with membership") {
    val out = SparkEntry.queries("q_hybrid_rrf")(spark, sf001)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == rows.length)
    // exactly 20 docs per arm (sf0.001 has >= 40 docs, >= 3 term hits)
    assert(rows.count(_._2 >= 1) == 20)
    assert(rows.count(_._3 >= 1) == 20)
    rows.foreach { case (_, kw, vec, s) =>
      assert(kw >= -1 && vec >= -1 && (kw >= 1 || vec >= 1))
      val expected = (if (kw >= 1) 1.0 / (60 + kw) else 0.0) +
        (if (vec >= 1) 1.0 / (60 + vec) else 0.0)
      assert(s == expected)
    }
  }
}
