package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.functions.{BasketItems, BillingLine, DocText, SeededDraw, Vocab}
import graft.sources.DataGen

/** The SeededDraw kernels behind DataGen against the column-expression
  * chains they replaced, kept here as the oracle: every generator row
  * for row, ordered by id, across seeds, basket caps, vocabularies and
  * duplicate mixes, on inputs that span several `range` partitions.
  */
class SeededDrawSpec extends SparkSpec {

  /** DataGen's generators before the kernels. */
  private object Oracle {
    private def draw(bound: Int, tag: String, seed: Long) =
      pmod(xxhash64(col("billId"), lit(tag), lit(seed)), lit(bound.toLong))

    def baskets(n: Long, maxItems: Int, vocab: Seq[String], seed: Long): DataFrame = {
      val vocabCol = array(vocab.map(lit): _*)
      spark.range(n).select(col("id").as("billId"))
        .withColumn("day", draw(365, "day", seed))
        .withColumn("size", greatest(draw(maxItems, "size", seed), lit(1L)))
        .withColumn("items", array_distinct(transform(
          sequence(lit(1), col("size")),
          i => element_at(vocabCol,
            (pmod(xxhash64(col("billId"), i, lit(seed)), lit(vocab.size.toLong)) + 1).cast("int")))))
        .select(col("billId"),
          date_add(lit(java.sql.Date.valueOf("2015-01-01")), col("day").cast("int")).as("date"),
          col("items"))
    }

    private def ymd(date: Column): Column =
      concat_ws("-", year(date), month(date), dayofmonth(date))

    /** (billId, line) for both dialects. */
    def lines(n: Long, maxItems: Int, vocab: Seq[String], seed: Long): DataFrame =
      baskets(n, maxItems, vocab, seed)
        .withColumn("priced", transform(col("items"),
          it => concat(
            (pmod(xxhash64(col("billId"), it, lit(seed)), lit(20L)) + 1).cast("string"),
            lit(" "), it)))
        .select(col("billId"),
          concat_ws(",", ymd(col("date")), concat_ws(",", col("items"))).as("a"),
          concat_ws(",", ymd(col("date")), concat_ws(",", col("priced"))).as("b"))

    def documents(n: Long, vocabSize: Int, exactPct: Int, nearPct: Int, seed: Long): DataFrame = {
      val pool = math.max(1L, n / 20L)
      def h(tag: String, cols: Column*) = xxhash64(cols :+ lit(tag) :+ lit(seed): _*)
      spark.range(n).select(col("id").as("doc_id"))
        .withColumn("_roll", pmod(h("roll", col("doc_id")), lit(100L)))
        .withColumn("kind",
          when(col("_roll") < exactPct, lit("exact"))
            .when(col("_roll") < exactPct + nearPct, lit("near"))
            .otherwise(lit("unique")))
        .withColumn("_tpl",
          when(col("kind") === "unique", col("doc_id") + lit(n))
            .otherwise(pmod(h("tpl", col("doc_id")), lit(pool))))
        .withColumn("_len", pmod(h("len", col("_tpl")), lit(60L)) + 30L)
        .withColumn("text", array_join(transform(
          sequence(lit(1L), col("_len")),
          i => concat(lit("w"),
            when(col("kind") === "near" && pmod(h("mut", col("doc_id"), i), lit(20L)) === 0L,
              pmod(h("sub", col("doc_id"), i), lit(vocabSize.toLong)))
              .otherwise(pmod(h("tok", col("_tpl"), i), lit(vocabSize.toLong)))
              .cast("string"))), " "))
        .select(col("doc_id"), col("kind"), col("text"))
    }
  }

  private val n = 2000L
  private val seeds = Seq(0L, 42L, -7L, (1L << 40) + 3)
  private val caps = Seq(1, 2, 10, 64)
  private val vocabs = Seq(
    "default" -> DataGen.DefaultVocab,
    "single" -> Seq("pane"),
    "repeats" -> Seq("pane", "latte", "pane", "vino", "latte", "pane"),
    "non-ascii" -> Seq("caffè", "tè", "pane", "tè verde"))

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  test("n spans several range partitions") {
    assert(spark.range(n).rdd.getNumPartitions > 1)
  }

  for ((vName, vocab) <- vocabs; maxItems <- caps) {
    test(s"baskets and both dialects == the oracle chain: vocab $vName, maxItems $maxItems") {
      for (seed <- seeds) {
        val at = s"seed $seed"
        val want = Oracle.baskets(n, maxItems, vocab, seed).orderBy("billId")
        val got = DataGen.baskets(spark, n, maxItems, vocab, seed).orderBy("billId")
        assert(got.schema == want.schema, at)
        assert(rows(got) == rows(want), at)
        val lines = Oracle.lines(n, maxItems, vocab, seed).orderBy("billId").collect()
        // range → project keeps id order within and across partitions
        assert(DataGen.dialectALines(spark, n, maxItems, vocab, seed).collect().toSeq ==
          lines.map(_.getString(1)).toSeq, at)
        assert(DataGen.dialectBLines(spark, n, maxItems, vocab, seed).collect().toSeq ==
          lines.map(_.getString(2)).toSeq, at)
      }
    }
  }

  test("documents == the oracle chain: default and 0/0 duplicate mixes") {
    for (seed <- seeds; (exactPct, nearPct) <- Seq((10, 10), (0, 0))) {
      val at = s"seed $seed, exact $exactPct, near $nearPct"
      val want = Oracle.documents(n, 5000, exactPct, nearPct, seed).orderBy("doc_id")
      val got = DataGen.documents(spark, n, 5000, exactPct, nearPct, seed).orderBy("doc_id")
      assert(got.schema == want.schema, at)
      assert(rows(got) == rows(want), at)
    }
  }

  test("the existing require messages hold for a zero cap and an empty vocabulary") {
    val gens = Seq[(Int, Seq[String]) => Any](
      (m, v) => DataGen.baskets(spark, 10, m, v),
      (m, v) => DataGen.dialectALines(spark, 10, m, v),
      (m, v) => DataGen.dialectBLines(spark, 10, m, v))
    for (gen <- gens; (m, v) <- Seq(0 -> DataGen.DefaultVocab, 10 -> Nil)) {
      val e = intercept[IllegalArgumentException](gen(m, v))
      assert(e.getMessage == s"requirement failed: need maxItems >= 1 (got $m) and a " +
        "non-empty vocab (pmod by zero would NULL every basket)")
    }
  }

  test("interpreted eval == codegen output") {
    val vocab = Vocab(vocabs(3)._2)
    val got = spark.range(300).select(col("id"),
      SeededDraw.basketItems(col("id"), vocab.items, 10, -7L),
      SeededDraw.billingLine(col("id"), vocab.items, 10, -7L, priced = false),
      SeededDraw.billingLine(col("id"), vocab.items, 10, -7L, priced = true),
      SeededDraw.docText(col("id"), col("id") % 7, col("id") % 3 === 0, 50, -7L)).collect()
    def str(r: Any) = r.toString
    got.foreach { r =>
      val id = Literal(r.getLong(0))
      val items = BasketItems(id, vocab, 10, -7L).eval().asInstanceOf[ArrayData]
      assert(items.toSeq[AnyRef](StringType).map(str) == r.getSeq[String](1))
      assert(str(BillingLine(id, vocab, 10, -7L, priced = false).eval()) == r.getString(2))
      assert(str(BillingLine(id, vocab, 10, -7L, priced = true).eval()) == r.getString(3))
      val doc = DocText(id, Literal(r.getLong(0) % 7), Literal(r.getLong(0) % 3 == 0), 50, -7L)
      assert(str(doc.eval()) == r.getString(4))
    }
  }

  test("non-long input fails at analysis with the kernel's message") {
    val cases = Seq[(Column, String)](
      SeededDraw.basketItems(col("s"), Seq("a"), 2, 1L) -> "basket_items requires a bigint input, got string",
      SeededDraw.billingLine(col("i"), Seq("a"), 2, 1L, priced = true) ->
        "billing_line requires a bigint input, got int",
      SeededDraw.docText(col("id"), col("i"), lit(true), 5, 1L) -> "doc_text requires a bigint input, got int",
      SeededDraw.docText(col("id"), col("id"), col("i"), 5, 1L) ->
        "doc_text requires a boolean near flag, got int")
    val df = spark.range(3).select(col("id"), col("id").cast("int").as("i"), col("id").cast("string").as("s"))
    for ((c, msg) <- cases) {
      val e = intercept[org.apache.spark.sql.AnalysisException](df.select(c).collect())
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }

  test("a NULL vocabulary item is kept by basket_items and left out of both lines") {
    val vocab = Seq("pane", null, "latte")
    val want = rows(Oracle.lines(n, 10, vocab, 3L).orderBy("billId").drop("billId"))
    val got = rows(spark.range(n).select(
      SeededDraw.billingLine(col("id"), vocab, 10, 3L, priced = false),
      SeededDraw.billingLine(col("id"), vocab, 10, 3L, priced = true)))
    assert(got == want)
    assert(rows(DataGen.baskets(spark, n, 10, vocab, 3L).select(col("items"))) ==
      rows(Oracle.baskets(n, 10, vocab, 3L).orderBy("billId").select(col("items"))))
  }
}
