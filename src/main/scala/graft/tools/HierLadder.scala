package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Harness.{exponent, num, timed}
import graft.operators.{SemDedup, Similarity}

/** End-to-end scale ladder for [[SemDedup.dedupAuto]]'s HIERARCHICAL
  * tier (4096 < k ≤ 65536 cells ⇔ ~525k–8.4M vectors at the default
  * target): the r11 verdict's top task. The r11 record measured the
  * two-level assigner componentwise (flat vs hier at k = 3750); this
  * tool runs `dedupAuto` itself — count → cellsFor → sampled two-level
  * training → assignCellsHierarchical → pair join → survivor rule — on
  * corpora big enough that the >4096-cell branch actually fires, and
  * reports per-phase wall so a super-linear phase is attributable, not
  * just detectable.
  *
  * Corpus: the ladders' replica-disjoint embedding construction
  * ([[embeddingReplicas]]: sign-flip diagonal orthogonal transforms —
  * more data, same statistics) at N× of sf0.1's 2k vectors, generated
  * embeddings-ONLY. N = 300 → 600k (k = 4688, just past the flat
  * ceiling); N = 1000 → 2M (k = 15625, mid-tier). Within-tier exponent
  * = log(steady ratio)/log(N₂/N₁).
  *
  * Also measures, once per point (outside the timed runs), the recall
  * floor at scale: exact-dup copies of every 200th vector are planted
  * (higher ids, so the min-id survivor rule must DROP them all);
  * planted recall = dropped/planted. Identical vectors share every
  * quantizer cell by definition, so anything under 1.0 is an
  * assignment-tier bug, not an approximation trade.
  *
  * Usage: runMain graft.tools.HierLadder [baseDir] [workRoot] [points]
  *   points: comma-separated replication factors, default "300,1000".
  * Run with SPARK_DRIVER_MEM=24g (the 30×-ladder lesson: broadcast
  * re-attach of a ≥10⁵-vector table needs driver headroom the 8 GB
  * harness JVM does not give).
  */
object HierLadder {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workRoot = args.lift(1).getOrElse("/tmp")
    val points = args.lift(2).getOrElse("300,1000")
      .split(",").toSeq.map(_.trim.toInt)
    // "flat" mode: time ONLY the counterfactual — flat sampled KMeans at
    // the same (sample, k) the tier would use — for the SCALE.md
    // flat-vs-hier training comparison. Θ(k²) expected; run it on the
    // smaller points unless you have minutes to burn.
    val flatMode = args.lift(3).contains("flat")
    val spark = graft.Harness.session()

    if (flatMode) {
      points.foreach { n =>
        val dir = s"$workRoot/graft_hier${n}x"
        generateEmbeddings(spark, base, dir, n)
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding")
        val cnt = emb.count()
        val k = SemDedup.cellsFor(cnt)
        val frac = math.min(1.0, 64.0 * k / cnt.toDouble)
        val trainDf = if (frac >= 1.0) emb else emb.sample(frac, 42L)
        val (_, tFlat) = timed(Similarity.trainCentroids(trainDf, "embedding", k, 42L))
        println(s"""{"point":"${n}x","n_vec":$cnt,"k":$k,"t_train_flat":${num(tFlat)}}""")
      }
      spark.stop()
      return
    }

    // "dispatch" mode (r13 verdict task 6): rungs past the 65536-cell
    // ceiling — EXECUTES the dedupAuto → dedupSrp handoff on a real
    // >8.4M-vector corpus instead of asserting it from a lazy plan
    // (SemDedupSpec's unit pin): shape proof (NULL cell tier + srp_code
    // in the analyzed plan), one cold e2e wall to place against the SRP
    // tier's linear trend, and the planted-recall run. One e2e + one
    // recall pass per point — min-of-2 steady is deliberately skipped
    // at this corpus size (the dispatch claim is routing + recall +
    // order-of-magnitude wall, not a ±5% steady number).
    // "dispatchsteady" (r15 task 4): the r14 dispatch record carries ONE
    // cold wall (514 s at 8.4M — ×2.2 over the SRP tier's 30×-rung
    // trend, cold IO/codegen folded in). This mode pins the linear law
    // without the cold factor: same rung, cold + MIN-OF-2 steady, the
    // recall pass skipped (r14's dispatch run owns that evidence and
    // recall is seed-deterministic at a fixed corpus).
    val dispatchSteady = args.lift(3).contains("dispatchsteady")
    if (dispatchSteady || args.lift(3).contains("dispatch")) {
      points.foreach { n =>
        val dir = s"$workRoot/graft_hier${n}x"
        generateEmbeddings(spark, base, dir, n)
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding")
        val cnt = emb.count()
        val k = SemDedup.cellsFor(cnt)
        require(k > SemDedup.HierAssignCeiling,
          s"point ${n}x (n=$cnt, k=$k) does not cross the ${SemDedup.HierAssignCeiling}-cell ceiling")
        val routed = SemDedup.dedupAuto(emb, "vec_id", "embedding", threshold = 0.4)
        val srpShape = routed.schema("cell").dataType ==
          org.apache.spark.sql.types.IntegerType &&
          routed.queryExecution.analyzed.toString.contains("srp_code")
        val (keptN, tE2e) = timed(routed.count())
        if (dispatchSteady) {
          def run(): Double =
            timed(SemDedup.dedupAuto(emb, "vec_id", "embedding", threshold = 0.4).count())._2
          val steady = math.min(run(), run())
          println(s"""{"point":"${n}x","n_vec":$cnt,"k_wanted":$k,"srp_tier_engaged":$srpShape,"cold_s":${num(tE2e)},"steady_s":${num(steady)},"kept":$keptN}""")
        } else {
          val planted = emb.filter(col("vec_id") % 200 === 0)
            .select((col("vec_id") + lit(1000000000000L)).as("vec_id"), col("embedding"))
          val nPlanted = planted.count()
          val keptPlanted = SemDedup.dedupAuto(emb.unionByName(planted),
              "vec_id", "embedding", threshold = 0.4)
            .filter(col("vec_id") >= 1000000000000L).count()
          graft.Caching.release()
          val recall = (nPlanted - keptPlanted).toDouble / math.max(1L, nPlanted).toDouble
          println(s"""{"point":"${n}x","n_vec":$cnt,"k_wanted":$k,"srp_tier_engaged":$srpShape,"e2e_s":${num(tE2e)},"kept":$keptN,"planted":$nPlanted,"planted_kept":$keptPlanted,"planted_recall":${num(recall)}}""")
        }
      }
      spark.stop()
      return
    }

    val rows = points.map { n =>
      val dir = s"$workRoot/graft_hier${n}x"
      generateEmbeddings(spark, base, dir, n)
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      def e2e(): Double =
        timed(SemDedup.dedupAuto(emb, "vec_id", "embedding", threshold = 0.4).count())._2

      // ---- phase attribution (one pass, cold-ish): replays dedupAuto's
      // big-k stages with the same inputs so a regression names its phase
      val (cnt, tCount) = timed(emb.select(col("vec_id")).count())
      val k = SemDedup.cellsFor(cnt)
      val frac = math.min(1.0, 64.0 * k / cnt.toDouble)
      val trainDf = if (frac >= 1.0) emb else emb.sample(frac, 42L)
      val (cents, tTrain) = timed {
        if (k > SemDedup.FlatAssignCeiling)
          Similarity.trainCentroidsHier(trainDf, "embedding", k, 42L)
        else Similarity.trainCentroids(trainDf, "embedding", k, 42L)
      }
      val (_, tDedup) = timed {
        SemDedup.dedupHier(emb, "vec_id", "embedding", 0.4, cents).count()
      }

      // ---- end-to-end protocol: cold + min-of-2 steady (training runs
      // in-path every time — that IS the ingest cost being laddered)
      val cold = e2e()
      val steady = math.min(e2e(), e2e())

      // ---- recall floor at scale (untimed): planted exact dups with
      // higher ids must all be dropped by the min-id survivor rule
      val planted = emb.filter(col("vec_id") % 200 === 0)
        .select((col("vec_id") + lit(1000000000000L)).as("vec_id"), col("embedding"))
      val nPlanted = planted.count()
      val kept = SemDedup.dedupAuto(emb.unionByName(planted),
          "vec_id", "embedding", threshold = 0.4)
        .filter(col("vec_id") >= 1000000000000L).count()
      graft.Caching.release()
      val recall = (nPlanted - kept).toDouble / math.max(1L, nPlanted).toDouble

      println(s"""{"point":"${n}x","n_vec":$cnt,"k":$k,"cold_s":${num(cold)},"steady_s":${num(steady)},"t_count":${num(tCount)},"t_train":${num(tTrain)},"t_assign_dedup":${num(tDedup)},"planted":$nPlanted,"planted_kept":$kept,"planted_recall":${num(recall)}}""")
      (n, cnt, k, cold, steady, tTrain, tDedup, recall)
    }

    println("| point | n_vec | k | cold (s) | steady (s) | train (s) | assign+dedup (s) | planted recall |")
    println("|---|---|---|---|---|---|---|---|")
    rows.foreach { case (n, cnt, k, cold, steady, tTrain, tDedup, recall) =>
      println(s"| ${n}x | $cnt | $k | ${num(cold)} | ${num(steady)} | ${num(tTrain)} | ${num(tDedup)} | ${num(recall)} |")
    }
    rows.sliding(2).foreach {
      case Seq((n1, _, _, _, s1, t1, d1, _), (n2, _, _, _, s2, t2, d2, _)) =>
        val f = n2.toDouble / n1
        println(s"within-tier ${n1}x -> ${n2}x (factor ${num(f)}): " +
          s"e2e exponent ${num(exponent(s2 / s1, f))}, train ${num(exponent(t2 / t1, f))}, " +
          s"assign+dedup ${num(exponent(d2 / d1, f))}")
      case _ => ()
    }
    spark.stop()
  }

  /** N× embeddings under `out`, idempotent per (base, N). The replica
    * id offsets reach r·10⁸ + 2000 and the planted-dup probe in main()
    * offsets by 10¹², so n beyond 9999 would collide replica ids with
    * planted ids and corrupt the recall metric. */
  def generateEmbeddings(spark: SparkSession, base: String, out: String, n: Int): Unit = {
    require(n >= 1 && n <= 9999,
      s"replication factor must be in [1, 9999] (planted-id offset bound), got $n")
    val done = new java.io.File(s"$out/_EMB_OK")
    val stamp = s"$base|$n"
    if (done.exists() &&
        new String(java.nio.file.Files.readAllBytes(done.toPath)) == stamp) return
    embeddingReplicas(spark.read.parquet(s"$base/embeddings.parquet"), n)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    done.getParentFile.mkdirs()
    java.nio.file.Files.write(done.toPath, stamp.getBytes)
    ()
  }

  /** The ladders' one N× embedding construction: replica r of `emb`
    * (other columns kept as they are) shifts vec_id by r·10⁸ and applies a deterministic ±1 per
    * dimension (a diagonal orthogonal transform): within-replica
    * cosines/norms exactly preserved, cross-replica structure
    * decorrelated; replica 0 is the original. ONE crossJoin against a
    * replica range, so the plan is a single narrow join instead of an
    * N-branch union. */
  def embeddingReplicas(emb: DataFrame, n: Int): DataFrame = {
    val off = 100000000L
    val reps = emb.sparkSession.range(0, n.toLong).select(col("id").cast("int").as("_r"))
    // sign(r, i) = +1 if bit 16 of (r·1000003 + i)·2654435761 is 0. The
    // product overflows Long at r = 3475 (ANSI arithmetic would throw
    // mid-generation), so replicas past r = 3474 (the >65536-cell
    // dispatch rung needs 4200×) take an xxhash64 sign instead, equally
    // deterministic; r ≤ 3474 replicas stay bit-identical to every
    // prior ladder dir
    emb.crossJoin(reps)
      .withColumn("vec_id", col("vec_id") + col("_r").cast("long") * lit(off))
      .withColumn("embedding",
        when(col("_r") === 0, col("embedding")) // replica 0 = the original, untouched
          .otherwise(zip_with(col("embedding"),
            sequence(lit(0), lit(63)), // driver embeddings are 64-dim (TESTDATA.md)
            (x, i) => {
              val h = (col("_r").cast("long") * lit(1000003L) + i.cast("long")) * lit(2654435761L)
              val legacySign = shiftrightunsigned(h, 16).bitwiseAND(lit(1L)) === 0L
              val hashSign = xxhash64(col("_r"), i).bitwiseAND(lit(1L)) === 0L
              when(when(col("_r") <= 3474, legacySign).otherwise(hashSign), x)
                .otherwise(-x)
            })))
      .drop("_r")
  }
}
