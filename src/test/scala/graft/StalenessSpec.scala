package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, SemDedup, Similarity}

/** Pins the standing-quantizer lifecycle (r14 verdict task 2): the
  * frozen-parameter artifacts ([[Dedup.srpIndex]] planes,
  * [[SemDedup.probedIndex]] centroids) store their build-time sizing in
  * a manifest, a staleness rule re-evaluates the sizing at the current
  * corpus size, ingest gates throw LOUDLY past the band, and the gated
  * rebuild re-encodes/retrains to exactly what a fresh build at the
  * current size would produce. The triggers are pinned here because
  * both engines would replay a silently-stale index identically — the
  * oracle gate can't see hyperparameter drift, only its cost.
  */
class StalenessSpec extends SparkSpec {
  import spark.implicits._

  private def emb(n: Int, dim: Int = 8) = {
    val rng = new scala.util.Random(11)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rng.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
  }

  test("srpIndexBuild stores the sizing; stale only past the log2 band; rebuild ≡ fresh build") {
    val corpus = emb(400)
    val (codes, m) = Dedup.srpIndexBuild(corpus, "vec_id", "embedding", dim = 8,
      targetBucketSize = 128)
    assert(m == Dedup.SrpManifest(400L, Similarity.srpPlanesFor(400, 128), 16, 128))
    // inside the band: same n, and anywhere srpPlanesFor agrees
    assert(!Dedup.srpIndexStale(m, 400))
    assert(!Dedup.srpIndexStale(m, 512)) // 512>>2 = 128 <= 128: still p=2
    // past the band: the corpus doubled enough that the rule flips
    assert(Dedup.srpIndexStale(m, 1600))
    assert(Dedup.srpIndexStale(m, 100)) // shrunk corpus goes stale too
    // the loud gate names the rule and the remedy
    val e = intercept[IllegalStateException] {
      Dedup.requireFreshSrpIndex(m, 1600)
    }
    assert(e.getMessage.contains("STALE") && e.getMessage.contains("srpPlanesFor")
      && e.getMessage.contains("srpIndexRebuild"), e.getMessage)
    Dedup.requireFreshSrpIndex(m, 400) // no throw inside the band
    // gated: a non-stale rebuild refuses (force overrides)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.srpIndexRebuild(corpus, "vec_id", "embedding", 8, m, 400)
    }
    assert(e2.getMessage.contains("not stale"), e2.getMessage)
    // rebuild at the grown size ≡ fresh build at that size, bitwise
    // (SRP coding is deterministic in (planes, tables)); grown corpus =
    // the same frame re-sized so both paths see identical vectors
    val grown = emb(1600)
    val (rebuilt, m2) = Dedup.srpIndexRebuild(grown, "vec_id", "embedding", 8,
      m, 1600)
    val (fresh, mF) = Dedup.srpIndexBuild(grown, "vec_id", "embedding", 8,
      targetBucketSize = 128, knownCount = Some(1600L))
    assert(m2 == mF && m2.builtN == 1600L
      && m2.planes == Similarity.srpPlanesFor(1600, 128))
    val a = rebuilt.collect().map(_.toSeq).toSet
    val b = fresh.collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
    // the rebuilt index is fresh at its new size
    assert(!Dedup.srpIndexStale(m2, 1600))
    assert(codes.columns.toSeq == rebuilt.columns.toSeq)
  }

  test("quantizer manifest: stale only outside the 2x cellsFor band; loud gate; gated retrain+re-assign ≡ fresh build") {
    val corpus = emb(512)
    val k0 = SemDedup.cellsFor(512) // 4 cells at target 128
    val cents = Similarity.hashCentroids(k0, 8)
    val (idx, m) = SemDedup.probedIndexBuild(corpus, "vec_id", "embedding",
      cents, probes = 2, targetCellSize = 128)
    assert(m == SemDedup.QuantizerManifest(512L, k0, 2, 128))
    // the 2x band: cellsFor moves with every n (∝ n), so staleness is
    // a factor-2 excursion, not any drift
    assert(!SemDedup.quantizerStale(m, 512))
    assert(!SemDedup.quantizerStale(m, 1024)) // cellsFor=8 = 2*k0: at the edge, inside
    assert(SemDedup.quantizerStale(m, 1153))  // cellsFor=10 > 2*k0
    assert(SemDedup.quantizerStale(m, 128))   // cellsFor=1, 2*1 < 4: shrunk out of band
    val e = intercept[IllegalStateException] {
      SemDedup.requireFreshQuantizer(m, 4096)
    }
    assert(e.getMessage.contains("STALE") && e.getMessage.contains("cellsFor")
      && e.getMessage.contains("probedIndexRebuild"), e.getMessage)
    SemDedup.requireFreshQuantizer(m, 700) // inside: no throw
    val e2 = intercept[IllegalArgumentException] {
      SemDedup.probedIndexRebuild(corpus, "vec_id", "embedding", m, 512,
        k => Similarity.hashCentroids(k, 8))
    }
    assert(e2.getMessage.contains("not stale"), e2.getMessage)
    // a trainer that ignores the sizing rule is rejected loudly
    val e3 = intercept[IllegalArgumentException] {
      SemDedup.probedIndexRebuild(emb(2048), "vec_id", "embedding", m, 2048,
        _ => Similarity.hashCentroids(3, 8))
    }
    assert(e3.getMessage.contains("sizing rule"), e3.getMessage)
    // gated rebuild at 4x corpus: retrains at cellsFor(2048)=16 and
    // re-assigns every id — label migration IS that re-assignment;
    // output must equal a fresh probedIndex built on the new quantizer
    val grown = emb(2048)
    val (idx2, cents2, m2) = SemDedup.probedIndexRebuild(grown, "vec_id",
      "embedding", m, 2048, k => Similarity.hashCentroids(k, 8))
    assert(m2 == SemDedup.QuantizerManifest(2048L, 16, 2, 128))
    assert(cents2.map { case (c, a) => (c, a.toSeq) } ==
      Similarity.hashCentroids(16, 8).map { case (c, a) => (c, a.toSeq) })
    val freshIdx = SemDedup.probedIndex(grown, "vec_id", "embedding", cents2,
      probes = 2)
    assert(idx2.collect().map(_.toSeq).toSet ==
      freshIdx.collect().map(_.toSeq).toSet)
    assert(!SemDedup.quantizerStale(m2, 2048))
    assert(idx.columns.toSeq == idx2.columns.toSeq)
  }

  test("ingest against a rebuilt index ≡ ingest against a fresh-built index (the lifecycle end to end)") {
    // the full event: corpus grew past the band since the index was
    // built → gate throws → rebuild → ingest serves from the rebuilt
    // index with results identical to a world that built fresh today
    val standing = emb(1600)
    val batch = emb(1700).filter(col("vec_id") >= 1600)
    val mOld = Dedup.SrpManifest(builtN = 400,
      planes = Similarity.srpPlanesFor(400, 128), tables = 16,
      targetBucketSize = 128)
    intercept[IllegalStateException] {
      Dedup.requireFreshSrpIndex(mOld, 1600)
    }
    val (rebuilt, m2) = Dedup.srpIndexRebuild(standing, "vec_id", "embedding",
      8, mOld, 1600)
    val viaRebuilt = Dedup.embeddingNearDupsAgainst(standing, rebuilt, batch,
        "vec_id", "embedding", dim = 8, threshold = 0.4, planes = m2.planes)
      .collect().map(_.toSeq).toSet
    val (freshIdx, mF) = Dedup.srpIndexBuild(standing, "vec_id", "embedding",
      8, knownCount = Some(1600L))
    val viaFresh = Dedup.embeddingNearDupsAgainst(standing, freshIdx, batch,
        "vec_id", "embedding", dim = 8, threshold = 0.4, planes = mF.planes)
      .collect().map(_.toSeq).toSet
    assert(viaRebuilt == viaFresh)
  }
}
