package graft.tools

import scala.collection.mutable

import org.apache.spark.sql.functions._

/** One-off generator for [[graft.functions.BpeMerges]]: trains a real
  * byte-pair-encoding merge table on the sf0.01 `documents` corpus and
  * prints it as Scala source — the same train-once/serve-many posture
  * as [[FreezeCentroids]] (frozen artifact = replayable on any engine).
  *
  * Training is the classic algorithm (Sennrich et al. 2016,
  * arXiv:1508.07909): start from characters, repeatedly merge the most
  * frequent adjacent symbol pair over the frequency-weighted word
  * dictionary. Two deliberate representation choices make the SERVING
  * side engine-portable:
  *
  *  - every symbol is exactly ONE char: base symbols are the corpus
  *    chars, merged symbol `i` is the private-use-area char U+E000+i
  *    (BMP, so Spark's UTF-16 and DuckDB's codepoint `length` agree).
  *    A merge application is then a plain 2-char → 1-char
  *    `replace(str, ab, c)`, whose left-to-right non-overlapping scan
  *    is identical in Java and DuckDB — no boundary separators needed.
  *  - merges apply in rank order, one global replace each. This equals
  *    the canonical "lowest-rank applicable pair first" loop because a
  *    merge's constituent symbols are always products of strictly
  *    earlier merges: applying a later merge can never re-enable an
  *    earlier one (the new symbol only participates in later-rank
  *    pairs). BpeSpec property-tests this equivalence.
  *
  * Pair counting mirrors reference implementations (HF tokenizers
  * `get_stats`): every adjacent position counts, so "aaa" contributes 2
  * to (a,a) even though one replace pass merges it once. Tie-break is
  * (count desc, left code asc, right code asc) — fully deterministic.
  */
object FreezeBpeMerges {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val numMerges = args.lift(1).map(_.toInt).getOrElse(96)
    // local[8]: the printed constants depend on partitioning and were frozen at 8 cores
    val spark = graft.Harness.session(cpus = 8)

    // Frequency-weighted word dictionary of BPE pre-tokens. Collecting
    // here is fine: this is the offline training tool, not a data path.
    val wordCounts: Array[(String, Long)] = graft.Tables.documents(spark, dir)
      .select(explode(graft.functions.TextFns.bpeTokens(lower(col("text")))).as("w"))
      .groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    spark.stop()

    val baseChars = wordCounts.flatMap(_._1.toCharArray).distinct.sorted
    require(baseChars.forall(c => c < 0xE000),
      s"corpus contains private-use-area chars; symbol encoding would collide")

    var words = wordCounts
    val decode = mutable.Map[Char, String](baseChars.map(c => c -> c.toString): _*)
    val merges = mutable.ArrayBuffer[(Char, Char, Char, String)]()
    var done = false
    while (!done && merges.size < numMerges) {
      val pairCounts = mutable.Map[(Char, Char), Long]().withDefaultValue(0L)
      for ((w, n) <- words; j <- 0 until w.length - 1)
        pairCounts((w(j), w(j + 1))) += n
      if (pairCounts.isEmpty) done = true
      else {
        val ((a, b), best) = pairCounts.toSeq
          .minBy { case ((x, y), n) => (-n, x.toInt, y.toInt) }
        if (best < 2) done = true
        else {
          val nc = (0xE000 + merges.size).toChar
          words = words.map { case (w, n) => (w.replace(s"$a$b", nc.toString), n) }
          decode(nc) = decode(a) + decode(b)
          merges += ((a, b, nc, decode(nc)))
        }
      }
    }

    def esc(s: String): String =
      s.flatMap {
        case c if c >= 0xE000 => f"\\u${c.toInt}%04x"
        case '\\'             => "\\\\"
        case '"'              => "\\\""
        case c                => c.toString
      }
    println(s"  val baseChars: Seq[Int] = Seq(${baseChars.map(_.toInt).mkString(", ")})")
    println()
    println(s"  val merges: Seq[(Int, Int, Int, String)] = Seq(")
    merges.zipWithIndex.foreach { case ((a, b, c, tok), i) =>
      val sep = if (i == merges.size - 1) ")" else ","
      println(s"""    /* ${i}%3d */ (${a.toInt}, ${b.toInt}, ${c.toInt}, "${esc(tok)}")$sep""")
    }
  }
}
