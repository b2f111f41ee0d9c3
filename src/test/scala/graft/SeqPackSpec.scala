package graft

import graft.operators.SeqPack

/** Sequence packing: the distributed two-level prefix scan must equal
  * the sequential definition no matter how the input is partitioned,
  * and the packing geometry must tile the token stream exactly. */
class SeqPackSpec extends SparkSpec {

  private def docs(n: Int) = {
    import spark.implicits._
    // token counts vary 1..40 deterministically; ids deliberately unsorted
    (0 until n).map(i => (i.toLong, (i * 17 % 40 + 1).toLong))
      .reverse.toDF("doc_id", "n_tokens")
  }

  test("prefixSum equals the sequential exclusive cumsum, at any partition count") {
    val d = docs(200)
    val expected = (0 until 200).map(i => (i * 17 % 40 + 1).toLong)
      .scanLeft(0L)(_ + _).init // exclusive
    for (parts <- Seq(1, 3, 8)) {
      val got = SeqPack.prefixSum(d.repartition(5), "doc_id", "n_tokens", partitions = parts)
        .orderBy("doc_id").collect().map(_.getAs[Long]("tok_start")).toSeq
      assert(got == expected, s"parts=$parts")
      Caching.release()
    }
  }

  test("packing tiles the stream: intervals are gapless and seq ids consistent") {
    val packed = SeqPack.packSequences(docs(100), "doc_id", "n_tokens", seqLen = 64L)
      .orderBy("doc_id").collect()
    Caching.release()
    var cursor = 0L
    packed.foreach { r =>
      val start = r.getAs[Long]("tok_start"); val n = r.getAs[Long]("n_tokens")
      assert(start == cursor, s"gap at doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Long]("seq_first") == start / 64)
      assert(r.getAs[Long]("seq_last") == (start + n - 1) / 64)
      assert(r.getAs[Long]("n_seqs") == (start + n - 1) / 64 - start / 64 + 1)
      cursor = start + n
    }
  }

  test("zero-token docs are dropped; seqLen 1 puts every token in its own sequence") {
    import spark.implicits._
    val d = Seq((1L, 0L), (2L, 3L), (3L, 0L), (4L, 1L)).toDF("doc_id", "n_tokens")
    val packed = SeqPack.packSequences(d, "doc_id", "n_tokens", seqLen = 1L)
      .orderBy("doc_id").collect()
    Caching.release()
    assert(packed.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L, 4L))
    assert(packed.map(_.getAs[Long]("n_seqs")).toSeq == Seq(3L, 1L))
  }

  test("manifest counts docs and boundary splits per sequence") {
    import spark.implicits._
    // stream: doc1 tokens [0,100), doc2 [100,150), doc3 [150,160) with L=64
    // seq0: doc1; seq1: doc1(split),doc2; seq2: doc2(split),doc3(split); seq3: doc3? 160/64 → seqs 0..2
    val d = Seq((1L, 100L), (2L, 50L), (3L, 10L)).toDF("doc_id", "n_tokens")
    val m = SeqPack.sequenceManifest(
        SeqPack.packSequences(d, "doc_id", "n_tokens", seqLen = 64L))
      .orderBy("seq_id").collect()
    Caching.release()
    val bySeq = m.map(r => r.getAs[Long]("seq_id") ->
      (r.getAs[Long]("n_docs"), r.getAs[Long]("n_split_docs"))).toMap
    // doc1 spans seqs 0-1, doc2 spans 1-2, doc3 sits inside seq 2
    assert(bySeq == Map(0L -> (1L, 1L), 1L -> (2L, 2L), 2L -> (2L, 1L)))
  }

  test("no persisted frames survive release") {
    SeqPack.packSequences(docs(50), "doc_id", "n_tokens", seqLen = 32L).count()
    Caching.release()
    assert(Caching.pendingCount == 0)
  }
}
