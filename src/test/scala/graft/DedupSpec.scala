package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Semantics pins for the hash-based dedup ops that the DuckDB oracle
  * can't reproduce (engine-specific xxhash64): MinHash LSH must recover
  * the truly-similar pairs found by the exact n-gram Jaccard pass, and
  * the signature estimate must track exact Jaccard.
  */
class DedupSpec extends SparkSpec {

  lazy val docs = Tables.documents(spark, sf001)

  lazy val truePairs: Set[(Long, Long)] =
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, minJaccard = 0.5)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val lshPairs: Map[(Long, Long), Double] =
    Dedup.lshCandidates(Dedup.minhashSignatures(docs, "doc_id", "text"), "doc_id")
      .collect().map(r => ((r.getAs[Long]("id1"), r.getAs[Long]("id2")),
        r.getAs[Double]("est_jaccard"))).toMap

  test("corpus has planted near-duplicates (fixture sanity)") {
    assert(truePairs.nonEmpty)
  }

  test("LSH candidates recover every true >=0.5-Jaccard pair (recall = 1)") {
    val missed = truePairs -- lshPairs.keySet
    assert(missed.isEmpty, s"LSH missed $missed")
  }

  test("MinHash estimate tracks exact Jaccard within 0.25") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, minJaccard = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jaccard"))).toMap
    exact.foreach { case (pair, j) =>
      lshPairs.get(pair).foreach { est => assert(math.abs(est - j) <= 0.25,
        s"$pair exact=$j est=$est") }
    }
  }

  test("signatures are stable across partitionings (determinism)") {
    val s1 = Dedup.minhashSignatures(docs, "doc_id", "text")
    val s4 = Dedup.minhashSignatures(docs.repartition(7), "doc_id", "text")
    assert(s1.exceptAll(s4).isEmpty && s4.exceptAll(s1).isEmpty)
  }

  test("simhash: near-dup pairs are close in Hamming space, random pairs far") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
    val a = sh.withColumnRenamed("doc_id", "id1").withColumnRenamed("simhash", "h1")
    val b = sh.withColumnRenamed("doc_id", "id2").withColumnRenamed("simhash", "h2")
    import spark.implicits._
    val truePairsDf = truePairs.toSeq.toDF("id1", "id2")
    val hamming = bit_count(col("h1").bitwiseXOR(col("h2")))
    val dists = truePairsDf.join(a, "id1").join(b, "id2")
      .select(hamming.as("d"))
      .collect().map(_.getInt(0))
    assert(dists.forall(_ <= 16), s"near-dup hamming too large: ${dists.mkString(",")}")
    // random (non-dup) baseline: expect ~32 bit flips on 64 bits
    val rand = a.filter(col("id1") < 20).join(b.filter(col("id2").between(200, 220)), lit(true))
      .select(avg(hamming)).collect().head.getDouble(0)
    assert(rand > 16.0, s"random-pair hamming unexpectedly low: $rand")
  }

  test("maxBucketSize bounds degenerate LSH buckets; distinct dups still pair") {
    import spark.implicits._
    // Adversarial fixture: 1000 mass-identical docs (one signature, so
    // every (band, hash) bucket holds all 1000 → 499,500 pairs uncapped)
    // plus one genuinely-duplicated distinct text.
    val crowd = (1L to 1000L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
    val pair = Seq((2001L, "an entirely different sentence about distributed systems and shuffles"),
                   (2002L, "an entirely different sentence about distributed systems and shuffles"))
    val docs = (crowd ++ pair).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
    val capped = Dedup.lshCandidates(sigs, "doc_id", maxBucketSize = Some(10))
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((2001L, 2002L)),
      s"expected only the small-bucket pair, got ${capped.size} candidates")
  }

  test("lshCandidates rejects a signature length != bands*rowsPerBand") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 64)
    val ex = intercept[Exception] {
      Dedup.lshCandidates(sigs, "doc_id", bands = 8, rowsPerBand = 4).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("signature length")), s"got: $ex")
  }

  test("near_pairs kernel ≡ pair-explode + CosineSimilarity, bit-exact (float and double)") {
    import spark.implicits._
    import graft.functions.{NearPairsGenerator, PairsGenerator}
    // one bucket-member array covering the kernel's corners: duplicate
    // id (keeps one), a pair straddling the threshold, a sub-threshold
    // junk pair, and ragged lengths (min(|a|,|b|) fold — the
    // CosineSimilarity contract)
    val rng = new scala.util.Random(7)
    val vecsF: Seq[(Long, Array[Float])] =
      (1L to 12L).map(i => i -> Array.fill(8)(rng.nextFloat() * 2f - 1f)) ++
        Seq(13L -> Array.fill(5)(0.5f),               // ragged
            3L  -> Array.fill(8)(9f))                 // duplicate id, different vec
    val tau = 0.2
    def viaKernel(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.groupBy(lit(1)).agg(collect_list(struct(col("id"), col("vec"))).as("m"))
        .select(NearPairsGenerator.nearPairs(col("m"), tau).as(Seq("id1", "id2", "cos")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def viaExplode(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] = {
      val ids = df.groupBy(lit(1)).agg(collect_list(col("id")).as("ids"))
        .select(PairsGenerator.pairs(col("ids")).as(Seq("id1", "id2")))
      ids.join(df.select(col("id").as("id1"), col("vec").as("v1")), Seq("id1"))
        .join(df.select(col("id").as("id2"), col("vec").as("v2")), Seq("id2"))
        .select(col("id1"), col("id2"),
          graft.functions.CosineSimilarity(col("v1"), col("v2")).as("cos"))
        .filter(col("cos") >= tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    // the duplicate id's surviving vector is arbitrary in BOTH
    // formulations (collect_list order vs join row choice) — pin parity
    // on the DEDUPED input, and separately that the kernel emits id 3
    // exactly once per partner
    val dfF = vecsF.toDF("id", "vec").dropDuplicates("id")
    assert(viaKernel(dfF) == viaExplode(dfF) && viaKernel(dfF).nonEmpty)
    val dfD = dfF.select(col("id"), col("vec").cast("array<double>").as("vec"))
    assert(viaKernel(dfD) == viaExplode(dfD))
    val withDup = vecsF.toDF("id", "vec")
    val dupEmits = withDup.groupBy(lit(1))
      .agg(collect_list(struct(col("id"), col("vec"))).as("m"))
      .select(NearPairsGenerator.nearPairs(col("m"), -1.0).as(Seq("id1", "id2", "cos")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dupEmits.distinct.length == dupEmits.length)
    assert(dupEmits.count { case (a, b) => a == 3L || b == 3L } == 12)
  }

  test("near_pairs zero-vector member emits no pairs at any threshold (NaN cosine, parity with CosineSimilarity)") {
    // the r12 oracle-blind-corner class: both engines replay NaN-fails-
    // threshold identically, so only a fixture can pin the INTENDED
    // semantics — a zero vector has no defined cosine and must pair
    // with nothing (silently poisoning downstream ranking with NaN rows
    // is the failure mode this drop prevents), while the bucket's other
    // members still pair normally
    import spark.implicits._
    import graft.functions.NearPairsGenerator
    val vecs: Seq[(Long, Array[Float])] = Seq(
      1L -> Array(1f, 0f, 0f),
      2L -> Array(1f, 1e-6f, 0f), // near-dup of 1
      3L -> Array(0f, 0f, 0f))    // zero vector: cosine NaN vs anything
    def pairsAt(tau: Double): Seq[(Long, Long)] =
      vecs.toDF("id", "vec").groupBy(lit(1))
        .agg(collect_list(struct(col("id"), col("vec"))).as("m"))
        .select(NearPairsGenerator.nearPairs(col("m"), tau).as(Seq("id1", "id2", "cos")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // even at threshold −1 (accept everything comparable) the zero
    // vector pairs with nothing; the real pair always survives
    assert(pairsAt(-1.0).toSet == Set((1L, 2L)))
    assert(pairsAt(0.9).toSet == Set((1L, 2L)))
    // parity: CosineSimilarity agrees the zero-vector pair is NaN
    val c = Seq((Array(1f, 0f, 0f), Array(0f, 0f, 0f)))
      .toDF("a", "b")
      .select(graft.functions.CosineSimilarity(col("a"), col("b")).as("c"))
      .head().getDouble(0)
    assert(c.isNaN)
  }

  test("embeddingNearDups maxBucketSize bounds a degenerate hot bucket") {
    import spark.implicits._
    val crowdVec = Array.tabulate(8)(i => if (i == 0) 1.0f else 0.1f)
    val pairVec = Array.tabulate(8)(i => if (i == 7) -1.0f else -0.1f)
    val rows = (1L to 1000L).map(i => (i, crowdVec)) ++
      Seq((2001L, pairVec), (2002L, pairVec.clone()))
    val emb = rows.toDF("vec_id", "embedding")
    val capped = Dedup.embeddingNearDups(emb, "vec_id", "embedding", dim = 8,
        threshold = 0.9, maxBucketSize = Some(10))
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((2001L, 2002L)),
      s"expected only the small-bucket pair, got ${capped.size} candidates")
  }

  test("embeddingNearDupsAgainst over a stored srpIndex equals the union run's cross-side pairs") {
    val emb = Tables.embeddings(spark, sf001)
    val standing = emb.filter(col("vec_id") % 10 < 8)
    val batch = emb.filter(col("vec_id") % 10 >= 8)
    // codes are per-row against frozen hyperplanes, so coding the sides
    // separately ≡ restricting one full coding — the Against pair set
    // must equal the full-corpus run's pairs with one id on each side
    // (canonical id1 < id2 re-oriented to (corpus, new))
    val against = Dedup.embeddingNearDupsAgainst(standing,
        Dedup.srpIndex(standing, "vec_id", "embedding", dim = 64, planes = 4),
        batch, "vec_id", "embedding", dim = 64, threshold = 0.4, planes = 4)
      .select("corpus_id", "new_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.embeddingNearDups(emb, "vec_id", "embedding", dim = 64,
        threshold = 0.4, planes = 4)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .collect {
        case (a, b) if a % 10 < 8 && b % 10 >= 8 => (a, b)
        case (a, b) if a % 10 >= 8 && b % 10 < 8 => (b, a)
      }.toSet
    assert(against == full,
      s"missing=${(full -- against).take(5)} extra=${(against -- full).take(5)}")
    assert(against.nonEmpty)
    // hot-bucket cap: capping both sides to 1 member per bucket kills
    // every candidate on this corpus (occupancies >> 1) — loudly bounded
    assert(Dedup.embeddingNearDupsAgainst(standing,
      Dedup.srpIndex(standing, "vec_id", "embedding", dim = 64, planes = 4),
      batch, "vec_id", "embedding", dim = 64, threshold = 0.4, planes = 4,
      maxBucketSize = Some(1)).isEmpty)
  }

  test("portableHash64 pins the cross-engine value (md5 first 15 hex chars)") {
    import spark.implicits._
    // DuckDB: SELECT CAST(concat('0x', substr(md5('abc'),1,15)) AS BIGINT)
    val got = Seq("abc").toDF("s")
      .select(Dedup.portableHash64(col("s"))).head().getLong(0)
    assert(got == 648541476951500027L)
  }

  test("portable and xxhash64 MinHash agree on LSH recall semantics") {
    val portablePairs = Dedup.lshCandidates(
        Dedup.minhashSignatures(docs, "doc_id", "text", portable = true), "doc_id")
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truePairs -- portablePairs
    assert(missed.isEmpty, s"portable LSH missed $missed")
  }

  test("simhash is total: zero-token docs keep a signature (0) instead of vanishing") {
    import spark.implicits._
    val d = Seq((1L, "real words here"), (2L, "   "), (3L, "")).toDF("doc_id", "text")
    val out = Dedup.simhash(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L), "every doc must have a signature row")
    assert(out(2L) == 0L && out(3L) == 0L)
    assert(out(1L) != 0L)
  }

  test("ngramJaccardAgainst cap restricts BOTH sides to the corpus-df universe") {
    import spark.implicits._
    // boilerplate 'b1..b4 …' shared by ALL corpus docs (df 3 > cap 2);
    // the distinctive tail is unique per doc (df 1)
    val boiler = "b1 b2 b3 b4 b5 b6"
    val corpus = Seq(
      (1L, s"$boiler alpha beta gamma delta"),
      (2L, s"$boiler epsilon zeta eta theta"),
      (3L, s"$boiler iota kappa lambda mu")).toDF("doc_id", "text")
    // the new doc is an EXACT copy of corpus doc 1
    val batch = Seq((100L, s"$boiler alpha beta gamma delta")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardAgainst(corpus, batch, "doc_id", "text",
        shingleN = 3, minJaccard = 0.5, maxShingleDf = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    Caching.release()
    // over the capped universe the copy must still score 1.0 against its
    // original — an asymmetric (corpus-only) cap would count the capped-out
    // boilerplate shingles in sz2 but never in common and admit it as novel
    assert(out.exists { case (c, n, j) => c == 1L && n == 100L && j == 1.0 },
      s"exact duplicate must survive the cap: ${out.toSeq}")
  }

  test("sortedNeighborhoodPairs emits exactly the rank-window pairs") {
    import spark.implicits._
    // keys chosen so the (key, id) order is NOT the id order
    val d = Seq((10L, "c"), (11L, "a"), (12L, "b"), (13L, "a"), (14L, "c"))
      .toDF("doc_id", "k")
    val got = Dedup.sortedNeighborhoodPairs(d, "doc_id", "k", windowSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // order by (k, id): 11(a,0) 13(a,1) 12(b,2) 10(c,3) 14(c,4); diffs 1..2
    assert(got == Set(
      (11L, 13L, 0L, 1L), (11L, 12L, 0L, 2L),
      (13L, 12L, 1L, 2L), (13L, 10L, 1L, 3L),
      (12L, 10L, 2L, 3L), (12L, 14L, 2L, 4L),
      (10L, 14L, 3L, 4L)))
  }

  test("sorted neighborhood candidate count is skew-immune: n*(w-1) cap under one mass key") {
    import spark.implicits._
    // 1000 records with the SAME key — the fixture that squares an
    // uncapped LSH bucket produces exactly the linear pair budget here
    val n = 1000
    val d = (0 until n).map(i => (i.toLong, "same-key")).toDF("doc_id", "k")
    val cnt = Dedup.sortedNeighborhoodPairs(d, "doc_id", "k", windowSize = 5).count()
    // ranks 0..999, each pairs with min(4, n-1-rank) successors
    assert(cnt == (0 until n).map(r => math.min(4, n - 1 - r)).sum.toLong)
    Caching.release()
  }

  test("sortedNeighborhoodPairs ranks are partition-count independent") {
    import spark.implicits._
    val d = (0 until 200).map(i => (i.toLong, s"k${i % 7}")).toDF("doc_id", "k")
    val a = Dedup.sortedNeighborhoodPairs(d.repartition(1), "doc_id", "k", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    Caching.release()
    val b = Dedup.sortedNeighborhoodPairs(d.repartition(13), "doc_id", "k", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    Caching.release()
    assert(a == b && a.nonEmpty)
  }

  test("exact dedup groups identical texts") {
    import spark.implicits._
    val df = Seq((1L, "aa"), (2L, "aa"), (3L, "bb")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", Seq("text")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  // ---- lshCandidatesAgainst -------------------------------------------

  test("incremental LSH scores cross pairs only and agrees with the full pass") {
    val docs = Tables.documents(spark, sf001)
    def sigs(f: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(f, "doc_id", "text")
    val corpusIds = docs.filter(col("doc_id") % 10 < 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val inc = Dedup.lshCandidatesAgainst(
        sigs(docs.filter(col("doc_id") % 10 < 8)),
        sigs(docs.filter(col("doc_id") % 10 >= 8)), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // cross pairs only — corpus ids left, new ids right, never mixed
    inc.keys.foreach { case (c, n) =>
      assert(corpusIds.contains(c) && !corpusIds.contains(n))
    }
    // the full self-pass restricted to cross pairs finds the SAME pairs
    // with the SAME estimates (banding is per-doc, so splitting the
    // input cannot change any doc's buckets)
    val full = Dedup.lshCandidates(sigs(docs), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val crossFromFull = full.collect {
      case ((a, b), e) if corpusIds.contains(a) != corpusIds.contains(b) =>
        (if (corpusIds.contains(a)) (a, b) else (b, a)) -> e
    }
    assert(inc == crossFromFull)
    assert(inc.nonEmpty, "fixture should plant at least one cross near-dup")
    Caching.release()
  }

  test("lshCandidatesAgainst: per-side bucket caps bound a degenerate corpus bucket") {
    import spark.implicits._
    // 1000 mass-identical corpus docs would pair with every identical
    // new doc (1000 × 2 cross rows per band bucket uncapped); the
    // corpus-side cap drops the hot bucket, the distinct near-dup in
    // the increment still matches its corpus twin through its own
    // (small) buckets.
    val crowd = (1L to 1000L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
    val corpusDocs = (crowd :+ (1500L,
      "an entirely different sentence about distributed systems and shuffles")).toDF("doc_id", "text")
    val newDocs = Seq(
      (2001L, "the quick brown fox jumps over the lazy dog"),
      (2002L, "an entirely different sentence about distributed systems and shuffles"))
      .toDF("doc_id", "text")
    def sigs(f: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(f, "doc_id", "text")
    val capped = Dedup.lshCandidatesAgainst(sigs(corpusDocs), sigs(newDocs),
        "doc_id", maxBucketSize = Some(10))
      .select("corpus_id", "new_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1500L, 2002L)),
      s"expected only the small-bucket cross pair, got ${capped.size} candidates")
    Caching.release()
  }

  test("lshCandidatesAgainst rejects mismatched signature lengths") {
    import spark.implicits._
    val good = Seq((1L, Array.fill(64)(7L))).toDF("doc_id", "sig")
    val bad = Seq((2L, Array.fill(32)(7L))).toDF("doc_id", "sig")
    val e = intercept[Exception] {
      Dedup.lshCandidatesAgainst(good, bad, "doc_id").count()
    }
    assert(e.getMessage.contains("signature length") ||
      e.getCause != null && e.getCause.getMessage.contains("signature length"))
    Caching.release()
  }

  // ---- connectedComponents --------------------------------------------

  private def cc(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(
        edges.toDF("id1", "id2"), nodes.toDF("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connectedComponents collapses a transitive chain into one cluster") {
    // path 1-2, 2-3, 3-4: diameter 3, no direct (1,4) pair
    val out = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L)), Seq(1L, 2L, 3L, 4L, 9L))
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L))
  }

  test("connectedComponents keeps independent components separate") {
    val out = cc(Seq((5L, 3L), (10L, 12L)), Seq(3L, 5L, 10L, 12L, 7L))
    assert(out == Map(3L -> 3L, 5L -> 3L, 10L -> 10L, 12L -> 10L, 7L -> 7L))
  }

  test("connectedComponents min label wins regardless of edge direction") {
    // edges listed high->low; label must still be the component min
    val out = cc(Seq((12L, 2L), (2L, 8L)), Seq(2L, 8L, 12L))
    assert(out.values.toSet == Set(2L))
  }

  test("connectedComponents confines output and propagation to `nodes` " +
      "(edge endpoints outside the node set are not label carriers)") {
    // r20 spec pin (r19 ADVICE corner): node 2 is MISSING from `nodes`,
    // so (a) it must not appear in the output, and (b) the 1-2-3 path
    // must NOT connect 1 and 3 through it — the documented pre-r19
    // inner-join semantics, now enforced by the in-agg _old filter.
    // Without the filter, 2's first appearance feeds NULL into the
    // convergence sum and an all-frontier-growth round reads as
    // converged (the ADVICE freeze scenario).
    val out = cc(Seq((1L, 2L), (2L, 3L)), Seq(1L, 3L))
    assert(out == Map(1L -> 1L, 3L -> 3L))
    // same fixture with 2 present: the chain collapses — proving the
    // confinement above is the node set, not a lost edge
    val withNode = cc(Seq((1L, 2L), (2L, 3L)), Seq(1L, 2L, 3L))
    assert(withNode == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponents fails loudly when rounds are exhausted") {
    import spark.implicits._
    val chain = (1L until 8L).map(i => (i, i + 1))
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain.toDF("id1", "id2"),
        (1L to 8L).toDF("doc_id"), "doc_id", maxRounds = 2)
    }
  }

  // ---- connectedComponentsStar ----------------------------------------

  private def ccStar(edges: Seq[(Long, Long)], nodes: Seq[Long],
                     maxRounds: Int = 30): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponentsStar(
        edges.toDF("id1", "id2"), nodes.toDF("doc_id"), "doc_id", maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("star contraction matches min-label propagation on random graphs") {
    // three seeded shapes: sparse (forest-ish), near-critical, dense
    for ((seed, n, m) <- Seq((42, 60, 30), (7, 60, 60), (13, 40, 120))) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val nodes = (0L until n.toLong)
      assert(ccStar(edges, nodes) == cc(edges, nodes),
        s"star != min-label for seed=$seed n=$n m=$m")
      // node sets that omit edge endpoints: the omitted ids are not
      // label carriers on either path
      for (drop <- Seq(3, 5)) {
        val partial = nodes.filter(_ % drop != 1)
        assert(ccStar(edges, partial) == cc(edges, partial),
          s"star != min-label for seed=$seed n=$n m=$m, nodes without id % $drop == 1")
      }
    }
    // the smallest case: 2 is not a node, so 1-2-3 does not connect 1 and 3
    assert(ccStar(Seq((1L, 2L), (2L, 3L)), Seq(1L, 3L)) == Map(1L -> 1L, 3L -> 3L))
  }

  test("star contraction collapses a chain deeper than min-label's round budget") {
    // a 300-link path has diameter 300: min-label needs ~300 rounds
    // (fails fast at 5 here), star contraction halves depth per round
    import spark.implicits._
    val chain = (0L until 300L).map(i => (i, i + 1))
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain.toDF("id1", "id2"),
        (0L to 300L).toDF("doc_id"), "doc_id", maxRounds = 5)
    }
    val out = ccStar(chain, 0L to 300L)
    assert(out.size == 301 && out.values.forall(_ == 0L))
  }

  // ---- convergence-probe cost ------------------------------------------

  /** Count the driver ACTIONS `body` runs, excluding checkpoint
    * materializations — i.e. the data-scanning probe/collect actions an
    * iterative algorithm launches on top of producing its per-round
    * frame. (Raw Spark-job counts can't pin this: AQE fans one action
    * into per-stage jobs and every broadcast-hash build is its own
    * job, both inherent to the PLAN, not the algorithm.) Polled to
    * quiescence — the ExecutionListenerBus is async, but actions in
    * `body` are blocking, so a stable count is complete.
    *
    * `body` runs against an ISOLATED `newSession()` (same SparkContext,
    * fresh session state): the ExecutionListenerManager is
    * session-scoped, so suites running concurrently in the shared test
    * JVM can't bump this counter — with the listener on the shared
    * session the pin was flaky under `sbt test` parallelism. */
  private def countProbeActions(body: org.apache.spark.sql.SparkSession => Unit): Int = {
    val s2 = spark.newSession()
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def bump(funcName: String): Unit =
        if (funcName != "checkpoint" && funcName != "localCheckpoint")
          counter.incrementAndGet()
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = bump(funcName)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = bump(funcName)
    }
    s2.listenerManager.register(listener)
    try {
      body(s2)
      var prev = -1; var cur = counter.get(); var waited = 0
      while (cur != prev && waited < 5000) {
        Thread.sleep(200); waited += 200; prev = cur; cur = counter.get()
      }
      cur
    } finally s2.listenerManager.unregister(listener)
  }

  test("min-label CC: the convergence probe is the ONLY action per round") {
    // path 1-2-3-4 + singleton: label fixpoint in round 3, confirmed in
    // round 4 — deterministic. One sum(_chg) probe per round, riding
    // the job that materializes the round's lazy checkpoint; the
    // pre-round-7 scheme ran a SECOND full pass per round (join +
    // isEmpty over the labels) on top of the eager checkpoint.
    val probes = countProbeActions { s2 =>
      import s2.implicits._
      Dedup.connectedComponents(
        Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id1", "id2"),
        Seq(1L, 2L, 3L, 4L, 9L).toDF("doc_id"), "doc_id")
    }
    assert(probes <= 4,
      s"min-label CC ran $probes probe actions for a 4-round fixpoint (want 1/round)")
  }

  test("star contraction: the set-diff probe is the ONLY action per round") {
    // 9-node path: 4 rounds, the last one confirming the fixpoint. One
    // full-outer set-diff probe per round and no pre-loop action (the
    // edge set's checkpoint is lazy and round 1's probe materializes
    // it); the pre-round-7 scheme cost 3 actions per round (2 counts +
    // anti-join isEmpty).
    val probes = countProbeActions { s2 =>
      import s2.implicits._
      Dedup.connectedComponentsStar(
        (0L until 8L).map(i => (i, i + 1)).toDF("id1", "id2"),
        (0L to 8L).toDF("doc_id"), "doc_id")
    }
    assert(probes <= 4, s"star CC ran $probes probe actions for a 4-round fixpoint (want 1/round)")
  }

  test("star contraction: singletons, direction-independence, separate components") {
    val out = ccStar(Seq((12L, 2L), (2L, 8L), (10L, 14L)), Seq(2L, 8L, 12L, 10L, 14L, 77L))
    assert(out == Map(2L -> 2L, 8L -> 2L, 12L -> 2L, 10L -> 10L, 14L -> 10L, 77L -> 77L))
    assert(ccStar(Nil, Seq(1L, 2L)) == Map(1L -> 1L, 2L -> 2L))
  }

  // ---- duplicateSpans (exact substring-level dedup) --------------------

  private def spans(docs: Seq[(Long, String)], gramN: Int = 3,
                    minSpan: Int = 5, cap: Int = 50): Set[(Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    Dedup.duplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text",
        gramN, minSpan, cap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
  }

  test("duplicateSpans finds a maximal shared span with exact 1-based offsets") {
    // doc 2 embeds doc 1's full 10 tokens at offset 3
    val out = spans(Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y a b c d e f g h i j z")))
    assert(out == Set((1L, 2L, 1L, 3L, 10L)))
  }

  test("duplicateSpans separates spans on different diagonals and below-threshold overlaps") {
    val out = spans(Seq(
      // shares "p q r s t" (5 tokens, offset 1 vs 4) and "u v w x y z"
      // (6 tokens, offset 7 vs 12) — different diagonals, two rows
      (1L, "p q r s t n1 u v w x y z"),
      (2L, "m1 m2 m3 p q r s t m4 m5 m6 u v w x y z")),
      gramN = 3, minSpan = 5)
    assert(out == Set((1L, 2L, 1L, 4L, 5L), (1L, 2L, 7L, 12L, 6L)))
    // a 4-token overlap stays below minSpan = 5
    val short = spans(Seq(
      (1L, "a b c d x1 x2 x3"),
      (2L, "y1 y2 a b c d y3")), gramN = 3, minSpan = 5)
    assert(short.isEmpty)
  }

  test("duplicateSpansAgainst: cross pairs only, corpus-side frequency cap") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val batch = Seq((3L, "x a b c d e f g h y")).toDF("doc_id", "text")
    val out = Dedup.duplicateSpansAgainst(corpus, batch, "doc_id", "text",
        gramN = 3, minSpanTokens = 5, maxGramFreq = 50)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // both corpus docs match the batch doc; the corpus-corpus pair
    // (1,2) — a full dup — must NOT appear (handled at ITS ingest)
    assert(out == Set((1L, 3L, 1L, 2L, 8L), (2L, 3L, 1L, 2L, 8L)))
    // cap comes from the corpus index: a footer on 30 corpus docs is
    // boilerplate even though today's batch sees it once
    val crowd = (1L to 30L).map(i => (i, s"u$i common footer line alpha beta"))
      .toDF("doc_id", "text")
    val b2 = Seq((99L, "z common footer line alpha beta")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpansAgainst(crowd, b2, "doc_id", "text",
      gramN = 3, minSpanTokens = 5, maxGramFreq = 20).isEmpty)
  }

  test("incrementalComponents: batch merges standing clusters; ≡ from-scratch CC") {
    import spark.implicits._
    // standing: {1,2} labeled 1, {3} labeled 3, {5} labeled 5
    val standing = Seq((1L, 1L), (2L, 1L), (3L, 3L), (5L, 5L))
      .toDF("doc_id", "cluster_id")
    val batch = Seq(10L, 11L).toDF("doc_id")
    // batch doc 10 bridges clusters 1 and 3; 11 stays a singleton
    val newEdges = Seq((10L, 2L), (10L, 3L)).toDF("id1", "id2")
    val inc = Dedup.incrementalComponents(standing, newEdges, batch, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 10L -> 1L, 11L -> 11L))
    // equivalence: composing through the contraction equals CC from
    // scratch on (old edges ∪ new edges ∪ all nodes)
    val oldEdges = Seq((1L, 2L)).toDF("id1", "id2")
    val allNodes = Seq(1L, 2L, 3L, 5L, 10L, 11L).toDF("doc_id")
    val scratch = Dedup.connectedComponents(
        oldEdges.union(newEdges), allNodes, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == scratch)
  }

  test("removeDocs: bridge removal splits, minimum removal relabels, untouched components keep labels") {
    import spark.implicits._
    // component A: 1–2–3 chained through bridge 2; component B: 10–11;
    // component C: singleton 20. labels = min-id assignment.
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val labels = Dedup.connectedComponents(edges, nodes, "doc_id")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asMap(labels) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
    // remove the bridge: component A splits into {1} and {3}
    val afterBridge = asMap(Dedup.removeDocs(labels, edges, Seq(2L).toDF("doc_id"), "doc_id"))
    assert(afterBridge == Map(1L -> 1L, 3L -> 3L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
    // remove the minimum of A: survivors 2,3 stay connected, relabel to 2
    val afterMin = asMap(Dedup.removeDocs(labels, edges, Seq(1L).toDF("doc_id"), "doc_id"))
    assert(afterMin == Map(2L -> 2L, 3L -> 2L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
    // remove a whole component + a singleton; B untouched throughout
    val afterAll = asMap(Dedup.removeDocs(labels, edges,
      Seq(1L, 2L, 3L, 20L).toDF("doc_id"), "doc_id"))
    assert(afterAll == Map(10L -> 10L, 11L -> 10L))
    // removed ids absent from `labels` are ignored (the documented
    // contract): nothing is touched, every label survives unchanged
    val afterUnknown = asMap(Dedup.removeDocs(labels, edges,
      Seq(999L).toDF("doc_id"), "doc_id"))
    assert(afterUnknown == asMap(labels))
    // equivalence on the corpus pipeline: scoped recompute ≡ from-scratch
    // CC over the surviving graph (the q_remove_docs oracle's claim,
    // pinned here in-suite on the real LSH edge set)
    val docs = Tables.documents(spark, sf001)
    val pairs = Dedup.lshCandidates(
        Dedup.minhashSignatures(docs, "doc_id", "text", portable = true),
        "doc_id", bands = 16, rowsPerBand = 4)
      .filter(col("est_jaccard") >= 0.5).select(col("id1"), col("id2"))
    val standingPairs = graft.Caching.persistTracked(pairs)
    val standing = graft.Caching.persistTracked(
      Dedup.connectedComponents(standingPairs, docs.select(col("doc_id")), "doc_id"))
    val removed = docs.filter(col("doc_id") % 17 === 3).select(col("doc_id"))
    val scoped = asMap(Dedup.removeDocs(standing, standingPairs, removed, "doc_id"))
    val scratch = asMap(Dedup.connectedComponents(
      standingPairs
        .join(removed.withColumnRenamed("doc_id", "id1"), Seq("id1"), "left_anti")
        .join(removed.withColumnRenamed("doc_id", "id2"), Seq("id2"), "left_anti"),
      docs.select(col("doc_id")).join(removed, Seq("doc_id"), "left_anti"), "doc_id"))
    graft.Caching.release()
    assert(scoped == scratch)
    assert(scoped.nonEmpty && !scoped.keySet.exists(_ % 17 == 3))
  }

  test("prefixJaccardPairs ≡ exact all-pairs Jaccard at the same threshold") {
    import spark.implicits._
    // near-dup pair (1,2), a shared-boilerplate-but-below-threshold pair
    // (1,3)/(2,3), an unrelated doc, and a short doc (single shingle)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown cat sleeps under the warm sun all day long"),
      (4L, "completely different content with no overlap at all here"),
      (5L, "tiny doc")
    ).toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val pref = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, 1, 2)
      .collect().map(key).toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, minJaccard = 0.5)
      .collect().map(key).toSet
    assert(pref == exact)
    assert(pref.exists { case (id1, id2, _, _, _) => (id1, id2) == (1L, 2L) })
    // equal shingle sets at tau = 1 (prefix length 1) still pair up
    val eq = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val full = Dedup.prefixJaccardPairs(eq, "doc_id", "text", 3, 1, 1).collect()
    assert(full.length == 1 && full.head.getDouble(5) == 1.0)
  }

  test("prefixJaccardPairs maxShingleDf: drops boilerplate-only pairs, keeps true pairs") {
    import spark.implicits._
    // 60 docs sharing exactly ONE boilerplate shingle (df 60) plus three
    // unique shingles each — below-threshold pairs that still flood the
    // candidate join uncapped; a true near-dup pair with no boilerplate;
    // and two PURE-boilerplate duplicates whose only overlap is the
    // capped-out shingle (the documented recall cost of the cap).
    val boiler = (10L to 69L).map(i => (i, s"alpha$i beta$i gamma$i terms of service"))
    val docs = (boiler ++ Seq(
      (1L, "x y z w q r s t"),
      (2L, "x y z w q r s t u"),
      (100L, "terms of service"),
      (101L, "terms of service"))).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, 1, 2))
    val capped = pairs(Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, 1, 2,
      maxShingleDf = Some(10)))
    Caching.release()
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((100L, 101L)))
    // boiler-boiler pairs share 1 of 7 shingles — below tau, absent both ways
    assert(!uncapped.exists { case (a, b) => a >= 10 && a < 100 && b < 100 })
    // cap drops the pure-boilerplate duplicate pair, keeps the true pair,
    // and invents nothing
    assert(capped == uncapped - ((100L, 101L)))
  }

  test("prefixJaccardPairs completes on 1000 mass-identical docs (posting-list square)") {
    import spark.implicits._
    // Worst case for the prefix principle: every shingle is in every
    // doc, so every prefix posting list squares — the candidates ARE
    // the answer (all pairs are exact duplicates). The path must grind
    // through C(1000,2) verified pairs, not hang or OOM.
    val crowd = (1L to 1000L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val n = Dedup.prefixJaccardPairs(crowd, "doc_id", "text", 3, 1, 2).count()
    Caching.release()
    assert(n == 499500L)
  }

  test("selfRepetitionProfile: repeats, tandem periodicity, cap flag, short doc") {
    import spark.implicits._
    val docs = Seq(
      // doc 1: "p q r s" repeated at positions 1 and 6 → max span 4 on diag 5
      (1L, "p q r s x p q r s"),
      // doc 2: tandem repeat "a b a b a b a b" → islands on diags 2/4/6;
      // diag 2 covers p1 1..5 → span 6 (the period-2 signal)
      (2L, "a b a b a b a b"),
      // doc 3: no token appears twice
      (3L, "m n o p q"),
      // doc 4: shorter than gramN
      (4L, "z"),
      // doc 5: one token repeated 30 times — above the cap, so no span
      // rows, but max_gram_freq reports the 29 repeated bigrams exactly
      (5L, Seq.fill(30)("w").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.selfRepetitionProfile(docs, "doc_id", "text",
        gramN = 2, minSpanTokens = 2, maxGramFreqInDoc = 20)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(out(1L) == ((9L, 2L, 4L, 1L, 4.0 / 9)))
    assert(out(2L) == ((8L, 4L, 6L, 3L, 6.0 / 8)))
    assert(out(3L) == ((5L, 1L, 0L, 0L, 0.0)))
    assert(out(4L) == ((1L, 0L, 0L, 0L, 0.0)))
    assert(out(5L) == ((30L, 29L, 0L, 0L, 0.0)))
  }

  test("spanCoverage unions overlapping spans without double counting") {
    import spark.implicits._
    // doc 3 shares [1,8] with doc 1 and [3,12] with doc 2 (union = all
    // 12 tokens); docs 1/2 share the middle [3,8]
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 x1 x2 x3 x4"),
      (2L, "y1 y2 t3 t4 t5 t6 t7 t8 q9 q10 q11 q12"),
      (3L, "t1 t2 t3 t4 t5 t6 t7 t8 q9 q10 q11 q12")).toDF("doc_id", "text")
    val out = Dedup.spanCoverage(docs, "doc_id", "text",
        gramN = 3, minSpanTokens = 5, maxGramFreq = 50)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((8L, 12L, 8.0 / 12.0)))
    assert(out(2L) == ((10L, 12L, 10.0 / 12.0)))
    assert(out(3L) == ((12L, 12L, 1.0)))
  }

  test("spanCoverage: identical intervals from several partners count once") {
    import spark.implicits._
    // doc 1's full text appears verbatim in docs 2 AND 3 → doc 1 holds
    // the interval [1,6] twice; tied duplicate rows once split the
    // islands running sum in DuckDB (order-sensitive between ties —
    // caught by the sf0.001 sweep), so the union must stay 6, never 12
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f x y"),
      (3L, "z w a b c d e f")).toDF("doc_id", "text")
    val out = Dedup.spanCoverage(docs, "doc_id", "text",
        gramN = 3, minSpanTokens = 5, maxGramFreq = 50)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((6L, 6L, 1.0)))
  }

  test("duplicateSpans drops boilerplate grams past the frequency cap") {
    // the same 6-token footer on 30 docs: 30 occurrences of each gram
    // exceed cap=20, so no pair reports the footer as a span
    val docs = (1L to 30L).map(i => (i, s"u$i v$i w$i common footer line alpha beta gamma"))
    assert(spans(docs, gramN = 3, minSpan = 5, cap = 20).isEmpty)
    // with a generous cap the footer IS a shared span for every pair
    val withCap = spans(docs.take(3), gramN = 3, minSpan = 5, cap = 50)
    assert(withCap.size == 3) // 3 choose 2
    assert(withCap.forall { case (_, _, a, b, len) => a == 4 && b == 4 && len == 6 })
  }
}
