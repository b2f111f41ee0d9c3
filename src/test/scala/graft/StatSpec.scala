package graft

/** DataFrame stat surface: seeded stratified sampling and heavy-hitter
  * detection — the profile-pass tools a curation pipeline runs before
  * committing to full scans. */
class StatSpec extends SparkSpec {

  test("sampleBy: seeded stratified sample hits requested fractions") {
    val li = Tables.lineitem(spark, sf001)
    val fractions = Map("A" -> 0.5, "N" -> 0.1, "R" -> 0.0)
    val sampled = li.stat.sampleBy("l_returnflag", fractions, seed = 42L)
    val counts = sampled.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("R")) // 0-fraction stratum fully dropped
    assert(math.abs(counts("A").toDouble / totals("A") - 0.5) < 0.1)
    assert(math.abs(counts("N").toDouble / totals("N") - 0.1) < 0.05)
    // seeded → reproducible
    val again = li.stat.sampleBy("l_returnflag", fractions, seed = 42L).count()
    assert(again == sampled.count())
  }

  test("freqItems finds the planted heavy hitter") {
    import spark.implicits._
    val skewed = (Seq.fill(500)(7L) ++ (1L to 100L)).toDF("k")
    val frequent = skewed.stat.freqItems(Array("k"), 0.4)
      .collect().head.getAs[scala.collection.Seq[Long]](0)
    assert(frequent.contains(7L))
  }
}
