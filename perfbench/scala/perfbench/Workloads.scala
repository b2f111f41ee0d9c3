package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Caching
import graft.functions.ColFns
import graft.operators.{AssocRules, TopK}
import graft.sources.{BillingReader, DataGen}
import graft.streaming.StreamingOps

/** A closed-loop workload: one client issues the operations of `ops`
  * in order, the next only after the previous one completed. */
abstract class Workload {
  def name: String
  def ops: Seq[String]
  /** Input rows (lines, baskets or docs) one pass over `ops` consumes. */
  def rowsPerPass: Long
  /** Untimed passes between the check pass and the timed loop. */
  def warmPasses: Int
  /** Generate the seeded inputs for the current session. */
  def prepare(h: Harness): Unit
  /** First (cold) operation, part of every set-up repetition. */
  def warm(h: Harness): Unit
  /** Untimed pass that checks every operation's output semantically
    * and records what the timed operations must reproduce. */
  def checkPass(h: Harness): Unit
  def runOp(h: Harness, op: String, pass: Int, trace: Boolean): OpRecord
  /** Traced runs only: separately timed stages, seconds per name. */
  def splits(h: Harness): Map[String, Double] = Map.empty
  /** Extra per-layer values known to the workload (traced runs). */
  def layerFacts: Map[String, Double] = Map.empty
  def finish(h: Harness): Unit = ()
  def close(h: Harness): Unit = ()
}

/** Workloads whose operations are batch frames written to the noop
  * sink; each timed result must reproduce the check pass's
  * fingerprint. */
abstract class BatchWorkload extends Workload {
  protected val reference = mutable.Map[String, String]()

  def frame(h: Harness, op: String): DataFrame

  /** Semantic checks over the collected outputs of one check pass. */
  def checkOutputs(h: Harness, out: Map[String, Array[Row]]): Unit

  def warm(h: Harness): Unit =
    try h.materialize(frame(h, ops.head)) finally Caching.release()

  def checkPass(h: Harness): Unit = {
    val out = ops.map { op =>
      // the reference fingerprint, observed in the execution whose
      // collected rows are checked
      val (rows, got) = try h.collect(frame(h, op)) finally Caching.release()
      reference(op) = Fingerprint.of(got).toString
      op -> rows
    }.toMap
    ops.foreach(op => h.check(s"$op.leak_free", Caching.pendingCount == 0))
    checkOutputs(h, out)
  }

  def runOp(h: Harness, op: String, pass: Int, trace: Boolean): OpRecord =
    h.timeOp(op, pass, trace) {
      val df = h.spans("build")(frame(h, op))
      val got = h.spans("execute")(h.materialize(df))
      Fingerprint.of(got).toString == reference(op)
    }

  /** Time `body` `n` times, median seconds (traced split stages). */
  protected def medianTime(n: Int)(body: => Unit): Double = {
    val ts = (1 to n).map { _ =>
      val t0 = System.nanoTime(); body; Caching.release(); (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(ts.size / 2)
  }
}

/** Text ingest through `BillingReader` into the three reference
  * queries; Q3 runs through both rule implementations. */
final class RefScale(lines: Long, val warmPasses: Int) extends BatchWorkload {
  val name = "ref_scale"
  val ops = Seq("q1_top5", "q2_revenue", "q3_rules_join", "q3_rules_gen")
  // Q1 and both Q3 variants read dialect A, Q2 reads dialect B
  def rowsPerPass: Long = 4 * lines

  private def baskets(h: Harness) = h.spans("sources.BillingReader.dialectA")(
    BillingReader.dialectA(h.spark, h.path("input/a")))

  private def monthItemCounts(h: Harness) = baskets(h)
    .select(date_format(col("date"), "yyyy-MM").as("month"), explode(col("items")).as("item"))
    .groupBy(col("month"), col("item")).agg(count(lit(1)).as("cnt"))

  def prepare(h: Harness): Unit = {
    DataGen.dialectALines(h.spark, lines, seed = h.seed)
      .write.mode("overwrite").text(h.path("input/a"))
    DataGen.dialectBLines(h.spark, lines, seed = h.seed + 1)
      .write.mode("overwrite").text(h.path("input/b"))
  }

  def frame(h: Harness, op: String): DataFrame = op match {
    case "q1_top5" =>
      h.spans("operators.TopK.perGroupNative")(
        TopK.perGroupNative(monthItemCounts(h), Seq("month"), "cnt", Seq("item"), 5))
    case "q2_revenue" =>
      h.spans("sources.BillingReader.dialectB")(BillingReader.dialectB(h.spark, h.path("input/b")))
        .groupBy(col("item"), date_format(col("date"), "yyyy-MM").as("month"))
        .agg(ColFns.moneySum(col("unitCost"), 2).as("total"))
    case "q3_rules_join" =>
      val items = baskets(h).select(col("billId"), explode(col("items")).as("item"))
      h.spans("operators.AssocRules.rules")(AssocRules.rules(items, "billId", "item"))
    case "q3_rules_gen" =>
      val b = baskets(h).select(col("billId"), col("items"))
      h.spans("operators.AssocRules.rulesFromBasketArrays")(
        AssocRules.rulesFromBasketArrays(b, "items"))
  }

  /** Q2 by an independent fold of the generated text, outside Spark:
    * cents per (item, yyyy-MM). */
  private def foldRevenue(h: Harness): Map[(String, String), Long] = {
    val acc = mutable.Map[(String, String), Long]().withDefaultValue(0L)
    val dir = java.nio.file.Paths.get(h.path("input/b"))
    val files = java.nio.file.Files.list(dir)
    try files.iterator().forEachRemaining { f =>
      if (f.getFileName.toString.startsWith("part-"))
        java.nio.file.Files.readAllLines(f).forEach { line =>
          val fields = line.split(",")
          if (line.trim.nonEmpty) {
            val ymd = fields(0).split("-")
            val month = f"${ymd(0).toInt}%04d-${ymd(1).toInt}%02d"
            fields.drop(1).filter(_.trim.nonEmpty).foreach { priced =>
              val Array(cost, item) = priced.trim.split(" ")
              acc((item, month)) += math.round(cost.toDouble * 100)
            }
          }
        }
    } finally files.close()
    acc.toMap
  }

  def checkOutputs(h: Harness, out: Map[String, Array[Row]]): Unit = {
    def rowSet(rs: Array[Row]) = rs.map(_.toSeq).toSet
    val viaWindow = TopK.perGroup(monthItemCounts(h), Seq(col("month")), col("cnt"),
      Seq(col("item")), 5).drop("rn").collect()
    h.check("q1_top5.native_matches_window",
      rowSet(out("q1_top5")) == rowSet(viaWindow) && viaWindow.nonEmpty,
      s"native ${out("q1_top5").length} rows vs window ${viaWindow.length}")
    val q2 = out("q2_revenue").map(r =>
      (r.getAs[String]("item"), r.getAs[String]("month")) ->
        math.round(r.getAs[Double]("total") * 100)).toMap
    val folded = foldRevenue(h)
    h.check("q2_revenue.matches_text_fold", q2 == folded && q2.nonEmpty,
      s"spark ${q2.size} groups vs fold ${folded.size}")
    h.check("q3.join_matches_generator",
      rowSet(out("q3_rules_join")) == rowSet(out("q3_rules_gen")) &&
        out("q3_rules_join").nonEmpty,
      s"join ${out("q3_rules_join").length} rules vs generator ${out("q3_rules_gen").length}")
  }

  private var pairRows = 0.0
  override def layerFacts: Map[String, Double] = Map("operators.assoc_pair_rows" -> pairRows)

  override def splits(h: Harness): Map[String, Double] = {
    // pair rows both Q3 plans generate: sum of C(k, 2) over baskets
    pairRows = baskets(h).select(size(col("items")).cast("long").as("k"))
      .agg(sum(col("k") * (col("k") - 1) / 2)).head().getDouble(0)
    Map("sources.parse_s" -> medianTime(3) {
      BillingReader.dialectA(h.spark, h.path("input/a")).write.format("noop").mode("overwrite").save()
      BillingReader.dialectB(h.spark, h.path("input/b")).write.format("noop").mode("overwrite").save()
    })
  }
}

/** Micro-batch maintenance of the reference queries: each operation
  * feeds one slice of seeded baskets to a `MemoryStream` and waits for
  * all four maintained queries (checkpointed) to fold it. The slices of
  * a fixed pool are fed in turn, so set-up does not grow with the run's
  * length. */
final class RefStream(slice: Int, poolSlices: Int, val warmPasses: Int) extends Workload {
  val name = "ref_stream"
  val ops = Seq("epoch")
  def rowsPerPass: Long = slice.toLong

  private type Basket = (Timestamp, Seq[String])
  private var pool: Array[Basket] = Array.empty
  /** Slices fed so far in the current Spark session. */
  private var fed = 0
  private var source: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Basket] = _
  private var queries: Seq[StreamingQuery] = Nil
  private var session = 0

  def prepare(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    pool = DataGen.baskets(spark, slice.toLong * poolSlices, seed = h.seed)
      .select(col("date").cast("timestamp").as("ts"), col("items"))
      .as[Basket].collect()
    fed = 0
    session += 1
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Basket]
    val billings = source.toDF().toDF("ts", "items")
    val (itemCnt, pairCnt, total) = StreamingOps.basketCounts(billings)
    def start(df: DataFrame, q: String, mode: String) = df.writeStream
      .format("memory").queryName(q).outputMode(mode)
      .option("checkpointLocation", h.path(s"ckpt/s$session/$q"))
      .start()
    queries = Seq(
      start(StreamingOps.monthlyItemCounts(billings), "pb_monthly", "update"),
      start(itemCnt, "pb_items", "complete"),
      start(pairCnt, "pb_pairs", "complete"),
      start(total, "pb_total", "complete"))
  }

  private def epoch(): Boolean = {
    source.addData(fedSlice(fed).toIndexedSeq)
    fed += 1
    queries.foreach(_.processAllAvailable())
    queries.forall(q => q.exception.isEmpty && q.isActive)
  }

  private def fedSlice(i: Int): Array[Basket] = {
    val from = (i % poolSlices) * slice
    pool.slice(from, from + slice)
  }

  def warm(h: Harness): Unit = epoch()

  def checkPass(h: Harness): Unit =
    h.check("epoch.check_pass", (1 to 2).forall(_ => epoch()))

  def runOp(h: Harness, op: String, pass: Int, trace: Boolean): OpRecord =
    h.timeOp(op, pass, trace)(h.spans("execute")(epoch()))

  /** The maintained state after the last epoch must equal the batch
    * answer over every basket fed in this Spark session. Every maintained
    * value is a count over baskets, so that answer is the number of
    * whole cycles through the pool times the answer over the pool, plus
    * the answer over the slices of the last, unfinished cycle. */
  override def finish(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    val cycles = (fed / poolSlices).toLong
    val whole = pool.toSeq.toDF("ts", "items")
    val rest = (0 until fed % poolSlices).flatMap(fedSlice).toDF("ts", "items")
    def asMap(df: DataFrame) =
      df.collect().map(r => r.toSeq.init -> r.getLong(r.length - 1)).toMap
    def batch(q: DataFrame => DataFrame): Map[Seq[Any], Long] = {
      val (a, b) = (asMap(q(whole)), asMap(q(rest)))
      (a.keySet ++ b.keySet).map(k => k -> (cycles * a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    }
    val streamedMonthly = asMap(spark.table("pb_monthly")
      .groupBy("month", "item").agg(max("cnt").as("cnt")))
    h.check("stream.monthly_matches_batch",
      streamedMonthly == batch(StreamingOps.monthlyItemCounts) && streamedMonthly.nonEmpty)
    Seq[(String, DataFrame => DataFrame)](
      "pb_items" -> (df => StreamingOps.basketCounts(df)._1),
      "pb_pairs" -> (df => StreamingOps.basketCounts(df)._2),
      "pb_total" -> (df => StreamingOps.basketCounts(df)._3)).foreach {
      case (q, answer) =>
        val streamed = asMap(spark.table(q))
        h.check(s"stream.${q.stripPrefix("pb_")}_match_batch",
          streamed == batch(answer) && streamed.nonEmpty,
          s"${streamed.size} streamed keys")
    }
  }

  override def close(h: Harness): Unit = {
    queries.foreach(_.stop())
    queries = Nil
  }
}
