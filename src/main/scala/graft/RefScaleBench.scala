package graft

import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Harness.{num, timed}
import graft.operators.{AssocRules, Dedup, TopK}
import graft.sources.{BillingReader, DataGen}

/** Apples-to-apples run at the reference authors' own scale: 1,000,000
  * billing lines, ≤10 items/basket, 8-item vocabulary
  * (`/root/reference/BD_hw1/src/generator/BillingMain.java:27`), from
  * raw text ingest through each of the three queries. Prints one line
  * per stage; see README "Reference-scale run".
  */
object RefScaleBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = Harness.session()
    val dir = Files.createTempDirectory("refscale")
    try run(spark, n, args.drop(1).headOption.map(_.toLong).getOrElse(n / 5L), dir.toString)
    finally {
      spark.stop()
      FileUtils.deleteDirectory(dir.toFile)
    }
  }

  private def run(spark: SparkSession, n: Long, nDocs: Long, dir: String): Unit = {
    def stage(name: String)(f: => Any): Unit =
      println(f"REFSCALE $name%-18s ${num(timed(f)._2)}%7s s")
    // cold + steady (2nd run): the reference has no JVM-warm story, so
    // report both
    def coldAndSteady(queries: (String, () => Long)*): Unit =
      for ((name, q) <- queries; pass <- Seq("cold", "steady")) stage(s"$name-$pass")(q())

    stage("gen-dialect-a")(DataGen.dialectALines(spark, n).write.text(s"$dir/a"))
    stage("gen-dialect-b")(DataGen.dialectBLines(spark, n).write.text(s"$dir/b"))

    val baskets = BillingReader.dialectA(spark, s"$dir/a")
    def monthlyCounts = baskets.select(date_format(col("date"), "yyyy-MM").as("month"),
        explode(col("items")).as("item"))
      .groupBy(col("month"), col("item")).agg(count(lit(1)).as("cnt"))
    coldAndSteady(
      "q1-top5-month" -> (() =>
        TopK.perGroup(monthlyCounts, Seq(col("month")), col("cnt"), Seq(col("item")), 5).count()),
      "q1-top5-native" -> (() =>
        TopK.perGroupNative(monthlyCounts, Seq("month"), "cnt", Seq("item"), 5).count()),
      "q2-revenue-month" -> (() =>
        BillingReader.dialectB(spark, s"$dir/b")
          .groupBy(col("item"), date_format(col("date"), "yyyy-MM").as("month"))
          .agg(graft.functions.ColFns.moneySum(col("unitCost"), 2).as("total")).count()),
      "q3-rules-join" -> (() =>
        AssocRules.rules(
          baskets.select(col("billId"), explode(col("items")).as("item")),
          "billId", "item").count()),
      "q3-rules-generator" -> (() =>
        AssocRules.rulesFromBasketArrays(baskets.select(col("billId"), col("items")), "items").count()))

    // ------------------------------------------------ dedup at doc scale
    // The reference has no dedup surface; these rows put the curation
    // operators on the same apples-to-apples footing (seeded corpus,
    // known duplicate structure, raw ingest through each stage). Docs
    // default to n/5 (200k at the reference's 1M lines) — ~12M token
    // shingles through the MinHash agg, the heaviest stage.
    stage("gen-docs")(DataGen.documents(spark, nDocs).write.parquet(s"$dir/docs"))
    val docs = spark.read.parquet(s"$dir/docs")
    coldAndSteady(
      "d-exact-dedup" -> (() => Dedup.exact(docs, "doc_id", Seq("text")).count()),
      "d-minhash-sigs" -> (() => Dedup.minhashSignatures(docs, "doc_id", "text").count()),
      "d-lsh-pipeline" -> (() =>
        Dedup.lshCandidates(
          Dedup.minhashSignatures(docs, "doc_id", "text"), "doc_id").count()),
      "d-lsh-clusters" -> { () =>
        val pairs = Dedup.lshCandidates(
          Dedup.minhashSignatures(docs, "doc_id", "text"), "doc_id")
          .filter(col("est_jaccard") >= 0.7)
          .select(col("id1"), col("id2"))
        Dedup.connectedComponents(pairs, docs.select(col("doc_id")), "doc_id").count()
      })
  }
}
