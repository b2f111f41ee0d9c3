package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.BillingFields
import graft.sources.BillingReader

/** BillingFields against the composed expression chain it replaced in
  * BillingReader, kept here as the oracle: the edge lines of FIXTURES.md
  * §1–2, a seeded random-line property, and the kernel's input checks.
  */
class BillingFieldsSpec extends SparkSpec {

  /** The parse BillingReader had before the kernel: split, slice off
    * field 0, trim and drop empties through interpreted lambdas. */
  private object Oracle {
    private def rest(fields: Column): Column =
      slice(fields, lit(2), greatest(size(fields) - 1, lit(0)))
    // dialect A's item list, before array_distinct
    def items(fields: Column): Column =
      filter(transform(rest(fields), i => trim(i)), i => length(i) > 0)
    // dialect B's priced items, untrimmed until its cost/item split
    def priced(fields: Column): Column = filter(rest(fields), i => length(trim(i)) > 0)

    private def lines(path: String): DataFrame =
      spark.read.text(path)
        .filter(length(trim(col("value"))) > 0)
        .withColumn("billId", monotonically_increasing_id())
        .withColumn("fields", split(col("value"), ","))

    private val date = to_date(col("fields").getItem(0), "y-M-d").as("date")

    def dialectA(path: String): DataFrame =
      lines(path).select(col("billId"), date, array_distinct(items(col("fields"))).as("items"))

    def dialectB(path: String): DataFrame =
      lines(path)
        .select(col("billId"), date, explode(priced(col("fields"))).as("pricedItem"))
        .withColumn("parts", split(trim(col("pricedItem")), " "))
        .select(
          col("billId"), col("date"),
          col("parts").getItem(1).as("item"),
          col("parts").getItem(0).cast("double").as("unitCost"))
  }

  private def textFile(lines: Seq[String]): String =
    fixtureFile("lines.txt", lines.mkString("", "\n", "\n"))

  /** Lines where the kernel (A or B form) or the date text disagrees
    * with the oracle; read from a text file so both sides run in the
    * same codegen'd scan. */
  private def mismatches(lines: Seq[String]): Seq[Row] =
    spark.read.text(textFile(lines))
      .withColumn("fields", split(col("value"), ","))
      .select(col("value"),
        BillingFields(col("value")).as("kernel"), Oracle.items(col("fields")).as("items"),
        transform(Oracle.priced(col("fields")), i => trim(i)).as("priced"),
        substring_index(col("value"), ",", 1).as("date"), col("fields").getItem(0).as("oracleDate"))
      .filter(!(col("kernel") <=> col("items")) || !(col("kernel") <=> col("priced")) ||
        !(col("date") <=> col("oracleDate")))
      .collect().toSeq

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq.map(_.toSeq)

  private val edgeA = Seq(
    "2015-3-7,pane,burro,latte,",          // trailing comma
    "2015-3-8",                            // no comma: empty basket
    "2015-3-9,, ,pane,   ,latte,",         // empty and space-only fields
    "2015-3-10,  pane ,latte  ,  uova",    // spaces around commas
    "2015-3-11,\tpane, \tlatte\t ,vino\t", // tabs kept, inside and around
    "2015-3-12,caffè,tè verde,caffè",      // multibyte UTF-8, duplicate
    "2015-3-13,latte,pane,latte,uova,pane", // duplicates: first occurrence wins
    "   ")                                 // blank line: dropped

  private val edgeB = Seq(
    "2015-1-3,15 pane,12 uova,",
    "2015-1-4",
    "2015-1-5,, ,3 latte,   ",
    "2015-1-6, 15 pane ,  2.5 caffè ",
    "2015-1-7,4 pa\tne,5 latte\t",
    "2015-1-8,15 pane,15 pane")

  // the date field is not trimmed: `to_date` sees the spaces
  private val spacedDates = Seq(" 2015-3-14,pane,7 vino", "2015-3-15 ,pane,7 vino")

  test("kernel == oracle chain on the FIXTURES edge lines, both dialect forms") {
    assert(mismatches(edgeA ++ edgeB ++ spacedDates).isEmpty)
    val got = spark.read.text(textFile(edgeA)).select(BillingFields(col("value")))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(got(3) == Seq("pane", "latte", "uova"))
    assert(got(4) == Seq("\tpane", "\tlatte\t", "vino\t"), "only ASCII spaces are stripped")
    assert(got(5) == Seq("caffè", "tè verde", "caffè"))
  }

  test("BillingReader dialect A == the oracle chain on the edge lines") {
    val path = textFile(edgeA)
    val got = BillingReader.dialectA(spark, path)
    assert(got.schema == Oracle.dialectA(path).schema)
    assert(rowsOf(got) == rowsOf(Oracle.dialectA(path)))
    val items = got.orderBy("billId").collect().map(_.getSeq[String](2).toSeq).toSeq
    assert(items.size == edgeA.size - 1, "blank line kept")
    assert(items(1).isEmpty)
    assert(items(6) == Seq("latte", "pane", "uova"), "Q7 dedup must keep first-occurrence order")
  }

  test("BillingReader dialect B == the oracle chain on the edge lines") {
    val path = textFile(edgeB)
    val got = BillingReader.dialectB(spark, path)
    assert(got.schema == Oracle.dialectB(path).schema)
    assert(rowsOf(got) == rowsOf(Oracle.dialectB(path)))
    assert(got.count() == 9)
    assert(got.filter(col("item") === "caffè").head().getAs[Double]("unitCost") == 2.5)
  }

  test("a space around the date fails both readers loudly, as it failed the chain") {
    for (line <- spacedDates; path = textFile(Seq(line));
         (name, read) <- Seq[(String, String => DataFrame)](
           "new A" -> (BillingReader.dialectA(spark, _)), "oracle A" -> Oracle.dialectA,
           "new B" -> (BillingReader.dialectB(spark, _)), "oracle B" -> Oracle.dialectB)) {
      val e = intercept[Exception](read(path).collect())
      assert(e.getMessage.contains("CANNOT_PARSE_TIMESTAMP"), s"$name on '$line': ${e.getMessage}")
    }
  }

  test("seeded random lines: kernel == oracle chain, date text == split(value)[0]") {
    val char = Gen.frequency(
      6 -> Gen.oneOf('a', 'b', 'c'), 3 -> Gen.const(','), 3 -> Gen.const(' '),
      1 -> Gen.const('\t'), 1 -> Gen.oneOf('è', '☕', ' '), 1 -> Gen.const('-'))
    val line = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, char)).map(_.mkString)
    val lines = Gen.listOfN(300, line)
    (1 to 5).foreach { seed =>
      val sample = lines.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val bad = mismatches(sample)
      assert(bad.isEmpty, s"seed $seed: ${bad.take(3).mkString("; ")}")
    }
  }

  test("interpreted eval == codegen output; null line gives null") {
    val codegen = spark.read.text(textFile(edgeA ++ edgeB))
      .select(col("value"), BillingFields(col("value")).as("f")).collect()
    codegen.foreach { r =>
      val eval = BillingFields(Literal(r.getString(0))).eval().asInstanceOf[ArrayData]
      assert(eval.toSeq[AnyRef](StringType).map(_.toString) == r.getSeq[String](1).toSeq)
    }
    assert(BillingFields(Literal(null, StringType)).eval() == null)
    import spark.implicits._
    val viaFrame = Seq(Option.empty[String], Some("2015-1-1,a")).toDF("s")
      .select(BillingFields(col("s"))).collect()
    assert(viaFrame(0).isNullAt(0))
    assert(viaFrame(1).getSeq[String](0) == Seq("a"))
  }

  test("non-string input fails at analysis with the kernel's message") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(3).select(BillingFields(col("id"))).collect()
    }
    assert(e.getMessage.contains("billing_fields requires a string input, got bigint"),
      e.getMessage)
  }
}
