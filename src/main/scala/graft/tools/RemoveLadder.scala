package graft.tools

import org.apache.spark.sql.functions._

import graft.Harness.{exponentLines, num, timed}
import graft.operators.Dedup

/** Measures the deletion path's headline claim at ladder scale:
  * [[Dedup.removeDocs]]' cost scales with the TOUCHED components (plus
  * one keyed scan of the standing labels/edges), never a corpus-wide
  * CC — asserted in its scaladoc since r14, measured here. Protocol per
  * point: build the standing state ONCE (LSH dup edges at est-Jaccard
  * ≥ 0.5 + min-id CC labels — the q_remove_docs pipeline) and WRITE it
  * to parquet, the posture of a real pipeline that stores its standing
  * index; then time, against the stored state,
  *   (a) `removeDocs` for a removal batch FIXED across points
  *       (replica-0 ids < 100 — the corpus grows N×, the takedown
  *       doesn't), min-of-2 steady, and
  *   (b) the from-scratch alternative: full CC over the surviving
  *       edge/node sets — what a pipeline without the decremental path
  *       pays for the same takedown.
  * The claim holds if (a)'s exponent across points is far below (b)'s
  * (removeDocs keeps a linear term — the keyed carve-out scans — so
  * ~flat is not expected; "≪ the from-scratch exponent" is).
  *
  * Usage: runMain graft.tools.RemoveLadder [baseDir] [workRoot] [points]
  *   points: comma-separated replication factors, default "30,100".
  */
object RemoveLadder {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workRoot = args.lift(1).getOrElse("/tmp")
    val points = args.lift(2).getOrElse("30,100")
      .split(",").toSeq.map(_.trim.toInt)
    val spark = graft.Harness.session()

    val rows = points.map { n =>
      val dir = s"$workRoot/graft_remove${n}x"
      ScaleLadder.generate(spark, base, dir, n, Seq("documents"))
      val docs = spark.read.parquet(s"$dir/documents.parquet")

      // standing state, built once per (base, n) and stored — ingest
      // cost is the LSH family's ladder, not this one's
      val stamp = s"$base|$n"
      val okFile = new java.io.File(s"$dir/_STANDING_OK")
      if (!(okFile.exists() &&
            new String(java.nio.file.Files.readAllBytes(okFile.toPath)) == stamp)) {
        val pairs = Dedup.lshCandidates(
            Dedup.minhashSignatures(docs, "doc_id", "text", portable = false),
            "doc_id", bands = 16, rowsPerBand = 4)
          .filter(col("est_jaccard") >= 0.5)
          .select(col("id1"), col("id2"))
        val standing = graft.Caching.persistTracked(pairs)
        standing.write.mode("overwrite").parquet(s"$dir/edges.parquet")
        Dedup.connectedComponents(standing, docs.select(col("doc_id")), "doc_id")
          .write.mode("overwrite").parquet(s"$dir/labels.parquet")
        graft.Caching.release()
        java.nio.file.Files.write(okFile.toPath, stamp.getBytes)
      }
      val edges = spark.read.parquet(s"$dir/edges.parquet")
      val labels = spark.read.parquet(s"$dir/labels.parquet")
      // fixed takedown batch: replica-0 ids < 100 — |removed| does not
      // grow with N (ScaleLadder replica ids offset by r·10⁸)
      val removed = docs.filter(col("doc_id") < 100).select(col("doc_id"))
      val nRemoved = removed.count()
      val touched = labels.join(removed, Seq("doc_id"), "left_semi")
        .select(col("cluster_id")).distinct()
      val nTouchedComp = touched.count()
      val nTouchedMembers = labels.join(touched.hint("broadcast"),
        Seq("cluster_id"), "left_semi").count()
      val nEdges = edges.count(); val nDocs = docs.count()

      def removeRun(): (Long, Double) =
        timed(Dedup.removeDocs(labels, edges, removed, "doc_id").count())
      def scratchRun(): (Long, Double) = timed {
        Dedup.connectedComponents(
          edges.join(removed.withColumnRenamed("doc_id", "id1"), Seq("id1"), "left_anti")
               .join(removed.withColumnRenamed("doc_id", "id2"), Seq("id2"), "left_anti"),
          docs.select(col("doc_id")).join(removed, Seq("doc_id"), "left_anti"),
          "doc_id").count()
      }
      val (outRows, _) = removeRun() // cold; also the row count
      val tRemove = math.min(removeRun()._2, removeRun()._2)
      val (scratchRows, _) = scratchRun()
      val tScratch = math.min(scratchRun()._2, scratchRun()._2)
      require(outRows == scratchRows,
        s"scoped ($outRows) != from-scratch ($scratchRows) row count at ${n}x")
      println(s"""{"point":"${n}x","n_docs":$nDocs,"n_edges":$nEdges,"removed":$nRemoved,"touched_components":$nTouchedComp,"touched_members":$nTouchedMembers,"t_remove_s":${num(tRemove)},"t_scratch_cc_s":${num(tScratch)},"out_rows":$outRows}""")
      (n, tRemove, tScratch)
    }
    exponentLines(rows, "removeDocs", "from-scratch CC").foreach(println)
    spark.stop()
  }
}
