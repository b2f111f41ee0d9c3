package graft

import org.apache.spark.sql.functions._
import graft.sources.{BillingReader, DataGen}

class DataGenSpec extends SparkSpec {

  test("generator distribution: sizes in 1..max-1 post-dedup, dates in 2015, vocab only") {
    val df = DataGen.baskets(spark, 2000, maxItems = 10)
    val stats = df.select(
      min(size(col("items"))).as("minSz"), max(size(col("items"))).as("maxSz"),
      min(year(col("date"))).as("minY"), max(year(col("date"))).as("maxY")).collect().head
    assert(stats.getAs[Int]("minSz") >= 1 && stats.getAs[Int]("maxSz") <= 9)
    assert(stats.getAs[Int]("minY") == 2015 && stats.getAs[Int]("maxY") == 2015)
    val badItems = df.select(explode(col("items")).as("i"))
      .filter(!col("i").isin(DataGen.DefaultVocab.map(x => x: Any): _*)).count()
    assert(badItems == 0)
  }

  test("generator is deterministic and partitioning-independent") {
    val a = DataGen.baskets(spark, 500).collect().map(_.toString).sorted
    val b = DataGen.baskets(spark, 500).repartition(13).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("dialect A lines round-trip through BillingReader") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gen").toString + "/a"
    DataGen.dialectALines(spark, 300).write.text(dir)
    val back = BillingReader.dialectA(spark, dir)
    assert(back.count() == 300)
    // same multiset of (date, item-set) — billIds are synthetic on both sides
    val orig = DataGen.baskets(spark, 300)
      .select(col("date").cast("string"), array_sort(col("items")).cast("string"))
      .collect().map(_.toString).sorted
    val rt = back
      .select(col("date").cast("string"), array_sort(col("items")).cast("string"))
      .collect().map(_.toString).sorted
    assert(orig.sameElements(rt))
    // the canonical basket shape: (billId, date, items)
    assert(back.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
      "billId" -> "bigint", "date" -> "date", "items" -> "array<string>"))
  }

  test("dialect B lines parse with cost-first semantics") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gen").toString + "/b"
    DataGen.dialectBLines(spark, 200).write.text(dir)
    val priced = BillingReader.dialectB(spark, dir)
    val stats = priced.select(min(col("unitCost")), max(col("unitCost"))).collect().head
    assert(stats.getDouble(0) >= 1.0 && stats.getDouble(1) <= 20.0)
    assert(priced.filter(col("item").rlike("^[a-z]+$")).count() == priced.count())
  }

  test("document corpus: duplicate structure holds by construction") {
    val docs = DataGen.documents(spark, 4000).cache()
    try {
      assert(docs.count() == 4000)
      // kind shares track the 10/10/80 default within binomial noise
      val byKind = docs.groupBy(col("kind")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byKind("exact") > 250 && byKind("exact") < 550, byKind)
      assert(byKind("near") > 250 && byKind("near") < 550, byKind)
      // exact docs are verbatim copies: every text shared by >= 2 exact
      // docs; near docs are NOT verbatim (mutations landed) but share
      // >= 80% of token positions with some exact/near sibling
      val exactSolo = docs.filter(col("kind") === "exact")
        .groupBy(col("text")).count().filter(col("count") === 1).count()
      // a template drawn once stays solo — Poisson(2) puts ~27% of the
      // 200 templates there (~54 expected; 64 measured, deterministic)
      assert(exactSolo < 90, s"$exactSolo solo 'exact' texts")
      // doc length is 30..89 tokens everywhere
      val sz = docs.select(size(split(col("text"), " ")).as("n"))
        .agg(min(col("n")), max(col("n"))).collect().head
      assert(sz.getInt(0) >= 30 && sz.getInt(1) <= 89)
      // deterministic + partitioning-independent, like the basket gen
      val a = docs.orderBy("doc_id").collect().map(_.toString)
      val b = DataGen.documents(spark, 4000).repartition(17)
        .orderBy("doc_id").collect().map(_.toString)
      assert(a.sameElements(b))
      // the generated duplicates are actually CATCHABLE: MinHash+LSH on
      // the corpus finds pairs, and est_jaccard ~ 1.0 pairs exist
      val sigs = graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text")
      val cand = graft.operators.Dedup.lshCandidates(sigs, "doc_id")
      assert(cand.filter(col("est_jaccard") === 1.0).count() > 50)
    } finally { docs.unpersist(); Caching.release() }
  }
}
