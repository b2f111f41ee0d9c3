package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.Harness.{num, timed}

/** Measures what the PPJoin suffix filter buys at ladder scale: the
  * pre-distinct candidate row count (the stream whose distinct-exchange
  * shuffle/sort is q_prefix_jaccard's dominant disk frame — SCALE.md
  * r13: ~75 GB at 300×, past this box's scratch), plus end-to-end wall
  * clock and the run's aggregate shuffle-write / spill bytes from task
  * metrics, with the filter off vs on.
  *
  * Usage: runMain graft.tools.SuffixLadder [baseDir] [scaledDir] [N] [mode]
  * mode: `all` (default) = candidate counts + full-query runs;
  * `candonly` = only the candidate-stage counts (the cheap probe);
  * `fullonly` = only the end-to-end runs (the 300× attempt, where the
  * unfiltered candidate count is already known to exceed scratch).
  * Emits one JSON line per measurement. */
object SuffixLadder {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_suffix100x")
    val n = args.lift(2).map(_.toInt).getOrElse(100)
    val mode = args.lift(3).getOrElse("all")
    val spark = graft.Harness.session()
    ScaleLadder.generate(spark, base, out, n, Seq("documents"))

    val shufWrite = new AtomicLong; val diskSpill = new AtomicLong
    val memSpill = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          diskSpill.addAndGet(m.diskBytesSpilled)
          memSpill.addAndGet(m.memoryBytesSpilled)
          ()
        }
      }
    })
    def gb(b: Long): String = num(b.toDouble / (1L << 30))
    def measure(label: String)(body: => Long): Unit = {
      shufWrite.set(0); diskSpill.set(0); memSpill.set(0)
      val (rows, secs) = timed(body)
      // listener events drain async (listenerBus is private[spark]) —
      // a short settle keeps the byte counters honest; task-end events
      // for a completed job land within milliseconds on local mode
      Thread.sleep(500)
      println(s"""{"measure":"$label","rows":$rows,"secs":${num(secs)},""" +
        s""""shuffle_write_gb":${gb(shufWrite.get)},"disk_spill_gb":${gb(diskSpill.get)},""" +
        s""""mem_spill_gb":${gb(memSpill.get)}}""")
    }
    val docs = spark.read.parquet(s"$out/documents.parquet")
    for (sfx <- Seq(false, true)) {
      if (mode != "fullonly") measure(s"cand_rows_suffix_$sfx") {
        val (cand, _, _) = graft.operators.Dedup.prefixCandidateRows(
          docs, "doc_id", "text", 3, 1, 2, None, sfx)
        cand.count()
      }
      if (mode != "candonly") measure(s"full_suffix_$sfx") {
        graft.operators.Dedup.prefixJaccardPairs(
          docs, "doc_id", "text", 3, 1, 2, suffixFilter = sfx).count()
      }
    }
    spark.stop()
  }
}
