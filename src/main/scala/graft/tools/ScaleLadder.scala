package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Harness.{exponent, num, timed}

/** Scale-ladder measurement for the expensive dedup / graph / ANN
  * queries: generate an N× corpus from sf0.1 (default 10×), run each
  * ladder query at both scales, and report the observed scaling
  * exponent log(ratio)/log(N). The brief grades 100 TB design on
  * narrative; this produces one measured point per family instead.
  *
  * The N× corpus models MORE DATA WITH THE SAME STATISTICS, not N×
  * duplicated data (which would be an adversarial quadratic fixture,
  * covered separately by DedupSpec's mass-duplicate tests):
  *
  *  - documents: each replica r keeps the original token structure but
  *    suffixes every whitespace token with `~r` (r ≥ 1), so token and
  *    shingle COUNTS are identical per replica while the shingle SETS
  *    are replica-disjoint — inverted-index join structure per replica
  *    is exactly the original's, i.e. a clean "10× more independent
  *    docs" model. doc_id shifts by r·10⁸.
  *  - embeddings: each replica applies a replica-specific ±1 sign
  *    pattern per dimension (a diagonal orthogonal transform) — ALL
  *    within-replica cosines/norms are preserved bit-for-bit in
  *    structure while cross-replica collisions decorrelate. vec_id
  *    shifts by r·10⁸.
  *  - lineitem (graph family's edge source): replica r shifts
  *    l_orderkey and l_partkey by r·10⁸ — the co-occurrence graph
  *    becomes N disjoint copies of the original, again "more data,
  *    same shape".
  *  - customer (fuzzy/entity family's name source): replica r PREFIXES
  *    every name with `r~` (prefixing preserves Levenshtein distances —
  *    the DP consumes the equal prefix for free — and keeps the
  *    suffix-stripped block key replica-disjoint, so each replica's
  *    block/pair structure is exactly the original's). c_custkey shifts
  *    by r·10⁸.
  *
  * Usage: runMain graft.tools.ScaleLadder [baseDir] [scaledDir] [N] [mode]
  * where [mode] is `all` (default ladder set), `tuned`, or a
  * comma-separated query-name list to ladder just that subset.
  * Writes one JSON line per query plus a trailing markdown table that
  * SCALE.md embeds verbatim.
  */
object ScaleLadder {
  private val LadderQueries = Seq(
    "q_prefix_jaccard", "q_ngram_jaccard", "q_incremental_cc",
    "q_dup_spans", "q_star_clusters", "q_embed_neardup",
    "q_pagerank", "q_label_prop", "q_degree_dist",
    "q_fuzzy_names", "q_entity_clusters")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_scale10x")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Harness.session()
    // skew mode only reads documents — generating 60M lineitem rows for
    // a documents-only rung (the 300× point) would be pure waste. An
    // explicit `tables=a,b` 5th arg lets a query-list run reuse (or
    // build) a subset dir the same way — e.g. the documents-only
    // families at 300×, where the full-set lineitem replica alone would
    // be 180M rows; a query whose table wasn't generated fails loudly
    // on the missing parquet path.
    val tablesArg = args.lift(4).filter(_.startsWith("tables="))
      .map(_.stripPrefix("tables=").split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    if (args.lift(3).contains("skew")) generate(spark, base, out, n, Seq("documents"))
    else tablesArg match {
      case Some(ts) => generate(spark, base, out, n, ts)
      case None     => generate(spark, base, out, n)
    }

    // mode: "all" (default) = full sweep + tuned points; "tuned" = only
    // the auto-sized near-dup points; a comma-separated query list =
    // EXACTLY that subset, tuned points skipped (the untuned quadratic
    // near-dup is the one to EXCLUDE at larger N — at 30× it alone
    // would cost ~an hour)
    val mode = args.lift(3).getOrElse("all")
    val selected = mode match {
      case "all"            => LadderQueries
      case "tuned" | "skew" => Seq.empty[String]
      case list             => list.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    }
    val wantTuned = mode == "all" || mode == "tuned"

    // one ladder row from the two steady times; prints its JSON line
    def row(name: String, b: Double, s: Double, extra: String = ""): (String, Double, Double) = {
      println(s"""{"query":"$name","base_s":${num(b)},"scaled_s":${num(s)},"ratio":${num(s / b)},"exponent":${num(exponent(s / b, n))}$extra}""")
      (name, b, s)
    }

    // mode "skew": the budget-window family under a dominant source —
    // 90% of docs (≈90% of token mass; docs are homogeneous) remapped
    // onto ONE source value, at base and N×. Measures the plain
    // per-group window (whole dominant group sorts in one task) against
    // capTokenBudgetSalted's range-bucketed decomposition — the caveat
    // SCALE.md round 12 (cont. 2) recorded as unmeasured.
    val skewRows = if (mode != "skew") Seq.empty else {
      def skewed(dir: String) = spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("source",
          when(pmod(col("doc_id"), lit(10)) < 9, lit("dominant"))
            .otherwise(col("source")))
        .select(col("doc_id"), col("source"), col("text"))
      def timeOp(dir: String, op: DataFrame => DataFrame): Double = {
        def run(): Double = timed(op(skewed(dir)).count())._2
        run() // cold
        math.min(run(), run())
      }
      val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
        "budget_plain_skew" -> (d => graft.operators.TextPipeline
          .capTokenBudget(d, "doc_id", "source", "text", 800L, "graft-v1")),
        "budget_salted_skew" -> (d => graft.operators.TextPipeline
          .capTokenBudgetSalted(d, "doc_id", "source", "text", 800L, "graft-v1", 32)))
      ops.map { case (name, op) => row(name, timeOp(base, op), timeOp(out, op)) }
    }
    def queryTime(name: String, dir: String): Double =
      timed(graft.SparkEntry.queries(name)(spark, dir).count())._2
    val rows = selected.map { q =>
      val bCold = queryTime(q, base)
      val bSteady = math.min(queryTime(q, base), queryTime(q, base))
      val sCold = queryTime(q, out)
      val sSteady = math.min(queryTime(q, out), queryTime(q, out))
      row(q, bSteady, sSteady, s""","base_cold":${num(bCold)},"scaled_cold":${num(sCold)}""")
    }
    // The auto-tuned points: registered queries pin their frozen-oracle
    // operating points (q_embed_neardup planes=4, q_semdedup 16 cells) —
    // both measured quadratic-ish once the corpus outgrows that point
    // (r10: SRP exponent 2.28; r11: semdedup exponent 1.42). These rows
    // show the sizing rules (srpPlanesFor / cellsFor) restoring ~linear
    // cost on the SAME corpus pairs.
    def tunedRow(name: String)(body: String => Long): (String, Double, Double) = {
      def run(dir: String): Double = timed(body(dir))._2
      run(base); run(out) // cold
      val b = math.min(run(base), run(base))
      val s = math.min(run(out), run(out))
      row(name, b, s)
    }
    val tuned = if (!wantTuned) Seq.empty else Seq(
      tunedRow("q_embed_neardup_auto") { dir =>
        graft.operators.Dedup.embeddingNearDupsAuto(
          spark.read.parquet(s"$dir/embeddings.parquet"),
          "vec_id", "embedding", dim = 64, threshold = 0.4,
          tables = 16, maxBucketSize = Some(100000)).count()
      },
      tunedRow("q_semdedup_auto") { dir =>
        graft.operators.SemDedup.dedupAuto(
          spark.read.parquet(s"$dir/embeddings.parquet"),
          "vec_id", "embedding", threshold = 0.4).count()
      })
    println(s"| query | base steady (s) | ${n}x steady (s) | ratio | exponent |")
    println("|---|---|---|---|---|")
    (skewRows ++ rows ++ tuned).foreach { case (q, b, s) =>
      println(s"| $q | ${num(b)} | ${num(s)} | ${num(s / b)} | ${num(exponent(s / b, n))} |")
    }
    spark.stop()
  }

  /** Build the N× tables under `out`. Idempotent PER (base, N): the
    * marker records both, so re-running with a different replication
    * factor or base regenerates instead of silently measuring the old
    * corpus (which would understate every exponent by log(oldN)/log(N)
    * with no error). */
  def generate(spark: SparkSession, base: String, out: String, n: Int,
               tables: Seq[String] =
                 Seq("documents", "embeddings", "customer", "lineitem")): Unit = {
    val done = new java.io.File(s"$out/_LADDER_OK")
    // v2: customer added to the generated set — the version bump forces
    // regeneration of pre-customer ladder dirs (their marker would
    // otherwise skip generate() and the fuzzy queries would read the
    // BASE-SIZED customer table, understating every fuzzy exponent).
    // A table subset carries the subset in the stamp, so a later run
    // needing the full set regenerates instead of reading a partial dir
    // (the default all-tables stamp is unchanged for existing dirs).
    val fullStamp = s"$base|$n|v2"
    val stamp = fullStamp + (
      if (tables.sorted == Seq("customer", "documents", "embeddings", "lineitem")) ""
      else "|" + tables.sorted.mkString(","))
    if (done.exists()) {
      val cur = new String(java.nio.file.Files.readAllBytes(done.toPath))
      // an existing FULL dir satisfies any subset request — never
      // downgrade its marker
      if (cur == stamp || cur == fullStamp) return
    }
    // Regenerating over a MISMATCHED prior dir (different factor/base/
    // subset): delete the parquet dirs of tables NOT in this subset, so
    // a later run whose query list touches one of them fails loudly on
    // the missing path instead of silently reading the OLD scale — the
    // exact failure class the stamp exists to prevent (ADVICE r13).
    val allTables = Seq("documents", "embeddings", "customer", "lineitem")
    allTables.filterNot(tables.contains).foreach { t =>
      val dir = new java.io.File(s"$out/$t.parquet")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(dir)
      }
    }
    val off = 100000000L

    if (tables.contains("documents")) {
    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until n).map { r =>
      val tagged =
        if (r == 0) docs
        // "$1~" then the digit: '~' terminates the group reference, so
        // "$1~3" never parses as group 13
        else docs.withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1~" + r))
      tagged.withColumn("doc_id", col("doc_id") + lit(r * off))
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

    if (tables.contains("embeddings"))
      HierLadder.embeddingReplicas(spark.read.parquet(s"$base/embeddings.parquet"), n)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    if (tables.contains("customer")) {
    val cust = spark.read.parquet(s"$base/customer.parquet")
    (0 until n).map { r =>
      val named =
        if (r == 0) cust
        // PREFIX, not suffix: the fuzzy block key strips the LAST 2
        // chars, so a replica prefix keeps each replica's block/pair
        // structure identical to the original's (prepending a common
        // string never changes Levenshtein distance) while cross-replica
        // blocks stay disjoint — "more customers, same shape"
        else cust.withColumn("c_name", concat(lit(s"$r~"), col("c_name")))
      named.withColumn("c_custkey", col("c_custkey") + lit(r * off))
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    }

    if (tables.contains("lineitem")) {
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    (0 until n).map { r =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(r * off))
        .withColumn("l_partkey", col("l_partkey") + lit(r * off))
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    }

    done.getParentFile.mkdirs()
    java.nio.file.Files.write(done.toPath, stamp.getBytes)
    ()
  }
}
