package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Deduplication family for large-scale corpus curation: exact, MinHash +
  * LSH, SimHash, and exact n-gram Jaccard via an inverted index. All four
  * are shuffle-planned for 100 TB: nothing collects to the driver, every
  * pairwise step is keyed (band bucket / shingle) so candidate generation
  * is a co-partitioned join, never an all-pairs product.
  */
object Dedup {

  /** Drop rows of over-full bucket groups: count per bucket key
    * (map-side combinable, tiny) and semi-join the survivors — a
    * degenerate bucket of d rows costs O(d) instead of d² downstream.
    * Shared by the MinHash-LSH and embedding-LSH candidate paths. */
  private def capBuckets(rows: DataFrame, keys: Seq[String],
                         maxBucketSize: Option[Int]): DataFrame =
    maxBucketSize match {
      case Some(cap) =>
        val ok = rows.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("_bsz")).filter(col("_bsz") <= cap)
          .select(keys.map(col): _*)
        rows.join(ok, keys, "left_semi")
      case None => rows
    }

  /** Exact dedup: canonical representative (min id) per duplicate group.
    * Plain hash groupBy — partial+final agg, single shuffle on the key. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop(keyCols: _*)
      .select(col(idCol), col("n_copies"))

  // ---------------------------------------------------------------- MinHash

  /** 60-bit md5-derived base hash, bit-identical in Spark and DuckDB:
    * both engines produce the same md5 hex digest and agree on parsing
    * its first 15 hex chars (60 bits, always non-negative) as an
    * integer. Sketches built on it are oracle-verifiable end to end;
    * xxhash64 stays the default because it is ~3× cheaper per row —
    * use `portable = true` only where cross-engine reproducibility
    * matters more than throughput. */
  def portableHash64(c: Column): Column =
    graft.functions.PortableHash60(c.cast("string"))

  /** MinHash signatures: (id, sig ARRAY<LONG>[numHashes]).
    *
    * Plan: tokens → shingles → explode → xxhash64 → ONE keyed agg with
    * the custom [[graft.functions.SketchAggs.MinHashAgg]] buffer
    * (a declarative 64-column min() formulation exceeds whole-stage-
    * codegen field limits and drops to interpreted eval — ~2× slower;
    * the typed buffer also shuffles one 512 B blob per doc, not 64
    * columns). No distinct() pass: min is idempotent, duplicate shingles
    * cannot change the signature — one shuffle total.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleN: Int = 3,
                        portable: Boolean = false): DataFrame = {
    require(numHashes <= 64, "at most 64 hashes")
    val base = if (portable) portableHash64(col("shingle")) else xxhash64(col("shingle"))
    // fanOut before tokenize — same single-row-group-scan rationale as
    // [[hashedShingles]]
    graft.Tables.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), TextFns.tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        explode(TextFns.wordShingles(col("_toks"), shingleN)).as("shingle"))
      .select(col(idCol), base.as("h"))
      .groupBy(col(idCol))
      .agg(graft.functions.SketchAggs.minhash_agg(col("h"), numHashes).as("sig"))
  }

  /** Banded LSH candidate pairs from signatures, with the MinHash-estimated
    * Jaccard attached: (id1, id2, est_jaccard).
    *
    * bands × rowsPerBand must equal the signature length; the implied
    * match threshold is roughly (1/bands)^(1/rowsPerBand) — 16×4 ≈ 0.5.
    * Candidate generation carries ONLY ids: the banded frame is
    * (id, band, band_hash), pairs come
    * from one groupBy + PairsGenerator over each bucket's id list, and
    * the 64-long signature payloads re-attach via keyed joins over the
    * DEDUPED candidate set — a band self-join would ship every
    * signature once per band (bands× the bytes) and square payloads
    * inside each bucket. The checked signature frame is persisted
    * (MEMORY_AND_DISK) so the upstream signature computation — a full
    * tokenize+minhash pass when fed from `minhashSignatures` — runs
    * once, not once per re-attach join.
    *
    * Skew note: a degenerate bucket (e.g. empty-text docs sharing a
    * signature) would square — `maxBucketSize` drops buckets above the
    * cap BEFORE the per-bucket id list is collected (a bucket of d docs
    * yields d² pair rows; members of a dropped bucket still pair
    * through their other bands/buckets, so for genuinely-similar
    * non-degenerate pairs recall is barely affected — same contract as
    * `ngramJaccardPairs.maxShingleDf`). Opt-in to keep exact banded
    * semantics by default.
    *
    * Cache ownership: the persist routes through
    * [[graft.Caching.persistTracked]] — the caller that executes the
    * action releases it ([[graft.Caching.release]]), so long-running
    * sessions don't accumulate signature-frame cache entries.
    *
    * Signatures whose length differs from bands × rowsPerBand fail at
    * runtime (raise_error) instead of silently slicing short bands and
    * mis-scaling est_jaccard.
    */
  def lshCandidates(sigs: DataFrame, idCol: String,
                    bands: Int = 16, rowsPerBand: Int = 4,
                    maxBucketSize: Option[Int] = None): DataFrame = {
    import graft.functions.PairsGenerator.pairs
    val expected = bands * rowsPerBand
    val cached = checkedSigs(sigs, "lshCandidates", expected)
    val banded = bandedFrame(cached, idCol, idCol, bands, rowsPerBand)
    val pruned = capBuckets(banded, Seq("band", "band_hash"), maxBucketSize)
    // pairs() canonicalizes (id1 < id2) and dedupes bucket members, so
    // the output pair set matches the old self-join + filter formulation
    val candidates = pruned
      .groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col(idCol)).as("ids"))
      .select(pairs(col("ids")).as(Seq("id1", "id2")))
      .dropDuplicates("id1", "id2")
    candidates
      .join(cached.select(col(idCol).as("id1"), col("sig").as("sig1")), Seq("id1"))
      .join(cached.select(col(idCol).as("id2"), col("sig").as("sig2")), Seq("id2"))
      .withColumn("est_jaccard", estJaccard(col("sig1"), col("sig2"), expected))
      .select(col("id1"), col("id2"), col("est_jaccard"))
  }

  /** Signature agreement fraction: est. Jaccard = matching positions /
    * signature length (shared by the full and incremental LSH paths).
    * The count runs through the codegen'd [[graft.functions.SigAgreement]]
    * kernel — it executes once per CANDIDATE PAIR, the dominant row
    * count out of the band join, and the HOF formulation it replaces is
    * the documented interpreted-fold perf trap. Integer count, so the
    * double estimate is bit-identical to the oracle's replay. */
  private def estJaccard(sig1: Column, sig2: Column, len: Int): Column =
    graft.functions.SigAgreement(sig1, sig2).cast("double") / lit(len.toDouble)

  /** Signature-length check (raise_error on mismatch, persisted via
    * [[graft.Caching.persistTracked]]) — shared by the full and
    * incremental LSH paths. */
  private def checkedSigs(sigs: DataFrame, ctx: String, expected: Int): DataFrame =
    graft.Caching.persistTracked(sigs.filter(
      when(size(col("sig")) === lit(expected), lit(true))
        .otherwise(raise_error(concat(
          lit(s"$ctx: signature length "), size(col("sig")).cast("string"),
          lit(s" != bands*rowsPerBand = $expected"))))))

  /** (outId, band, band_hash) banding projection — THE one definition
    * of the LSH bucketing formula (slice bounds + band-index salt),
    * shared by [[lshCandidates]] and [[lshCandidatesAgainst]] so the
    * formula cannot silently fork between the full-corpus and ingest
    * paths (a fork would make ingest stop finding the duplicates the
    * full pass finds, with no error anywhere). */
  private def bandedFrame(sigs: DataFrame, idCol: String, outId: String,
                          bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(
      col(idCol).as(outId),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        // xxhash64 hashes the band's slice of the signature (array-typed
        // input is supported by HashExpression) salted with the band index
        b => xxhash64(slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand)), b)))
        .as(Seq("band", "band_hash")))

  /** Incremental LSH near-dup check: score each NEW document against
    * the EXISTING corpus only, via banded MinHash signatures — the
    * sketch-index analogue of [[ngramJaccardAgainst]]. The exact
    * inverted index carries the corpus's full (id, shingle) posting
    * set; the LSH index is 64 longs per doc, precomputed ONCE (pass
    * the stored signature table as `corpusSigs`) and reused by every
    * ingest batch, and the band join is (band, band_hash)-keyed
    * corpus × increment only — never corpus × corpus, so per-batch
    * cost scales with the increment. Returns (corpus_id, new_id,
    * est_jaccard); anti-join the batch on `new_id` to admit novel
    * docs. `maxBucketSize` caps degenerate buckets on each side
    * (a hot bucket of c corpus × d new rows costs c·d downstream);
    * persists route through [[graft.Caching]] as in [[lshCandidates]].
    */
  def lshCandidatesAgainst(corpusSigs: DataFrame, newSigs: DataFrame,
                           idCol: String, bands: Int = 16, rowsPerBand: Int = 4,
                           maxBucketSize: Option[Int] = None): DataFrame = {
    val expected = bands * rowsPerBand
    val corpus = checkedSigs(corpusSigs, "lshCandidatesAgainst", expected)
    val fresh = checkedSigs(newSigs, "lshCandidatesAgainst", expected)
    val cb = capBuckets(bandedFrame(corpus, idCol, "corpus_id", bands, rowsPerBand),
      Seq("band", "band_hash"), maxBucketSize)
    val nb = capBuckets(bandedFrame(fresh, idCol, "new_id", bands, rowsPerBand),
      Seq("band", "band_hash"), maxBucketSize)
    // ids-only through the band join (the lshCandidates contract);
    // signatures re-attach over the deduped cross-candidate set
    val candidates = cb.join(nb, Seq("band", "band_hash"))
      .filter(col("corpus_id") =!= col("new_id"))
      .select(col("corpus_id"), col("new_id"))
      .dropDuplicates("corpus_id", "new_id")
    candidates
      .join(corpus.select(col(idCol).as("corpus_id"), col("sig").as("sig1")), Seq("corpus_id"))
      .join(fresh.select(col(idCol).as("new_id"), col("sig").as("sig2")), Seq("new_id"))
      .withColumn("est_jaccard", estJaccard(col("sig1"), col("sig2"), expected))
      .select(col("corpus_id"), col("new_id"), col("est_jaccard"))
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash per document: per-token xxhash64, each bit votes ±1
    * weighted by term frequency, sign of the vote is the output bit.
    * One explode + one keyed agg via the custom
    * [[graft.functions.SketchAggs.SimHashAgg]] buffer (64 vote counters
    * in one Array[Long] — same codegen-limit rationale as MinHash). */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              portable: Boolean = false): DataFrame = {
    val base = if (portable) portableHash64(col("token")) else xxhash64(col("token"))
    // fanOut before tokenize — same single-row-group-scan rationale as
    // [[hashedShingles]]
    val sigs = graft.Tables.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(TextFns.tokens(col(textCol))).as("token"))
      .select(col(idCol), base.as("h"))
      .groupBy(col(idCol))
      .agg(graft.functions.SketchAggs.simhash_agg(col("h")).as("simhash"))
    // TOTAL coverage: a zero-token doc has no exploded rows and would
    // silently vanish from the signature frame — yet empty docs are all
    // trivially identical duplicates, exactly what a dedup pass must not
    // lose (minhashSignatures is total via the whole-doc shingle
    // fallback). Convention: no votes cast → signature 0, replayed
    // identically by the q_simhash oracle's left join.
    // distinct, not raw ids: the totality join must preserve the groupBy's
    // one-row-per-id shape — joining from raw docs would emit one row per
    // INPUT row, duplicating signatures under repeated ids
    docs.select(col(idCol)).distinct().join(sigs, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("simhash"), lit(0L)).as("simhash"))
  }

  // ------------------------------------------- embedding-cosine near-dups

  /** Embedding-space near-duplicate pairs: SRP-LSH candidate generation
    * (any shared bucket across `tables` independent codes) + exact
    * cosine filter ≥ threshold. The embedding analogue of the MinHash
    * path: candidates come from a keyed join on (table, bucket), never
    * an all-pairs product; exact scoring touches only candidates.
    *
    * `maxBucketSize` (opt-in, like `lshCandidates`) drops over-full
    * (table, bucket) groups before the member list is collected — a hot
    * bucket (mass-duplicate embeddings, or all-zero vectors landing in
    * one code) would otherwise build one giant array on a single task
    * and square into d² candidate pairs. Members of a dropped bucket
    * still pair through the other `tables − 1` independent codes.
    *
    * Scale shape (r14, the prefix-Jaccard lesson applied here):
    * verification runs IN PLACE. Each bucket collects its member
    * (id, vec) structs in ONE groupBy — a self-join would plant the
    * SRP-coding subtree twice with no exchange reuse — and
    * [[graft.functions.NearPairsGenerator]] scores/filters the bucket's
    * pairs inside the aggregation task, so the raw candidate stream
    * (~tables·n·occupancy/2 pairs, overwhelmingly sub-threshold junk —
    * ~8.5 BILLION rows ≈ 150 GB at the 8.4M-vector dispatch rung, which
    * out-scratched this box through the old global dropDuplicates +
    * two vector re-attach joins) never reaches an exchange. What
    * shuffles instead is the bucket-member stream: tables·n rows of
    * (id, vec) payload — linear in the corpus with a constant the
    * vector width sets, not the bucket occupancy. The τ-surviving
    * pairs (real near-dups only) dedup at the end: a pair colliding in
    * several tables scores identically in each (deterministic cosine),
    * so dropDuplicates keeps an exact row. */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
                        dim: Int, threshold: Double,
                        planes: Int = 4, tables: Int = 16,
                        maxBucketSize: Option[Int] = None): DataFrame = {
    // single consumer of the input now (one coding pass that carries the
    // vector along) — a COMPUTED embedding input evaluates once with no
    // persist needed
    val coded = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .select(col("id"), col("vec"), posexplode(
        Similarity.srpBuckets(col("vec"), dim, planes, tables)).as(Seq("table", "bucket")))
    // cap applies BEFORE collect_list so the giant member array of a hot
    // bucket never materializes on any task
    val kept = capBuckets(coded, Seq("table", "bucket"), maxBucketSize)
    kept
      .groupBy(col("table"), col("bucket"))
      .agg(collect_list(struct(col("id"), col("vec"))).as("_members"))
      .select(graft.functions.NearPairsGenerator.nearPairs(col("_members"), threshold)
        .as(Seq("id1", "id2", "cos_sim")))
      .dropDuplicates("id1", "id2")
  }

  /** The stored SRP code index of a standing corpus — (id, table,
    * bucket): tables·n NARROW rows, no vector payload (vectors
    * re-attach from the corpus frame at ingest time). The plane count
    * is FROZEN at build time ([[Similarity.srpPlanesFor]] at the
    * build-time corpus size — the standing-artifact contract of
    * [[SemDedup.probedIndex]]); the resize lifecycle is first-class:
    * build via [[srpIndexBuild]] (stores the sizing manifest), gate
    * ingest on [[requireFreshSrpIndex]], re-encode via
    * [[srpIndexRebuild]] when the corpus outgrows the frozen sizing;
    * delete rows with a left-anti join on the id. This is the
    * >[[SemDedup.HierAssignCeiling]] tier's standing artifact — the
    * tier a billion-vector corpus actually lives in. */
  def srpIndex(emb: DataFrame, idCol: String, vecCol: String,
               dim: Int, planes: Int, tables: Int = 16): DataFrame =
    emb.select(col(idCol), col(vecCol).as("_v"))
      .select(col(idCol), posexplode(
        Similarity.srpBuckets(col("_v"), dim, planes, tables)).as(Seq("table", "bucket")))

  /** Build-time sizing manifest of a standing [[srpIndex]] — the
    * lifecycle piece that makes the frozen-parameter contract
    * ("rebuild on a corpus resize") DETECTABLE instead of a scaladoc
    * promise: the index stores what n the plane count was sized for,
    * and [[srpIndexStale]] re-evaluates the sizing rule at the current
    * corpus size. Persist it beside the codes. */
  final case class SrpManifest(builtN: Long, planes: Int, tables: Int,
                               targetBucketSize: Int)

  /** [[srpIndex]] plus its manifest, planes sized by
    * [[Similarity.srpPlanesFor]] at the build-time corpus size — the
    * build entry an ingest pipeline should use so the staleness check
    * has its reference point. `knownCount` skips the sizing count()
    * when the caller already has n (the embeddingNearDupsAuto rule). */
  def srpIndexBuild(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                    targetBucketSize: Int = 128, tables: Int = 16,
                    knownCount: Option[Long] = None): (DataFrame, SrpManifest) = {
    val n = knownCount.getOrElse(emb.select(col(idCol)).count())
    val planes = Similarity.srpPlanesFor(n, targetBucketSize)
    (srpIndex(emb, idCol, vecCol, dim, planes, tables),
      SrpManifest(n, planes, tables, targetBucketSize))
  }

  /** The staleness rule: the sizing rule re-evaluated at the CURRENT
    * corpus size disagrees with the frozen plane count. srpPlanesFor is
    * log₂-quantized, so this has a built-in hysteresis band — the
    * corpus must roughly double (or halve) past the build point before
    * the rule flips, and expected bucket occupancy n/2^planes stays
    * within 2× of target inside the band. Past it, occupancy compounds:
    * per-bucket pair work is occupancy² per table, the exact
    * fixed-hyperparameter drift the scale ladder caught at exponent
    * 2.28 (planes frozen for 2k vectors, corpus at 10×). */
  def srpIndexStale(m: SrpManifest, currentN: Long): Boolean =
    Similarity.srpPlanesFor(currentN, m.targetBucketSize) != m.planes

  /** Loud staleness gate for ingest paths serving a standing
    * [[srpIndex]]: throws (never logs-and-degrades) when the corpus
    * has outgrown the frozen sizing, naming the rule and the remedy. */
  def requireFreshSrpIndex(m: SrpManifest, currentN: Long): Unit =
    if (srpIndexStale(m, currentN))
      throw new IllegalStateException(
        s"standing srpIndex is STALE: planes=${m.planes} was sized for " +
          s"n=${m.builtN} (target bucket ${m.targetBucketSize}), but " +
          s"srpPlanesFor($currentN) = " +
          s"${Similarity.srpPlanesFor(currentN, m.targetBucketSize)} — " +
          "per-bucket pair work is now compounding quadratically; run " +
          "Dedup.srpIndexRebuild and serve ingest from the rebuilt index")

  /** The gated rebuild: re-encode the corpus under the sizing rule at
    * its CURRENT size and return the new index + manifest. Gated —
    * refuses when the standing manifest is not stale (`force` for a
    * deliberate re-encode), so a pipeline cannot silently burn a full
    * corpus re-encode on every batch. Label migration is a NO-OP by
    * construction on this tier: SRP codes are candidate-generation
    * state only — survivor/cluster labels were derived from exact
    * cosine edges, which a re-encode cannot invalidate — so the
    * standing labels ride along unchanged and only the code rows are
    * replaced. Cost is one linear encode pass (ladder-measured against
    * the from-scratch re-dedup counterfactual: tools/IngestLadder). */
  def srpIndexRebuild(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                      m: SrpManifest, currentN: Long,
                      force: Boolean = false): (DataFrame, SrpManifest) = {
    require(force || srpIndexStale(m, currentN),
      s"srpIndexRebuild: index is not stale (planes=${m.planes} is still " +
        s"srpPlanesFor($currentN, ${m.targetBucketSize})) — a rebuild would " +
        "re-encode the corpus for nothing; pass force=true to do it anyway")
    srpIndexBuild(emb, idCol, vecCol, dim, m.targetBucketSize, m.tables,
      knownCount = Some(currentN))
  }

  /** Batch-vs-standing embedding near-dup pairs over a stored
    * [[srpIndex]] — the SRP tier's `*Against` entry, completing the
    * ingest family across all three quantizer tiers
    * ([[SemDedup.dedupIngest]] flat, [[SemDedup.dedupIngestHier]]
    * hier, this beyond the 65536-cell ceiling). The batch codes
    * in-flight with the SAME frozen (planes, tables); the standing
    * side is semi-joined to the batch's touched (table, bucket) set
    * BEFORE its vector attach (the touched-cell carve-out — a
    * localized arrival touches ~tables·|batch| buckets, never the
    * corpus), candidate pairs are born inside the bucket join task and
    * die in the fused cosine filter before any exchange (the
    * [[embeddingNearDups]] discipline — here the join shape is safe
    * because per-bucket pair work is standing-occupancy × batch
    * members, batch-bounded), and only τ-survivors reach the final
    * pair dedup. `maxBucketSize` caps BOTH sides' bucket membership
    * (hot-bucket guard, [[lshCandidatesAgainst]] contract). */
  def embeddingNearDupsAgainst(standingEmb: DataFrame, standingCodes: DataFrame,
                               batchEmb: DataFrame, idCol: String, vecCol: String,
                               dim: Int, threshold: Double, planes: Int,
                               tables: Int = 16,
                               maxBucketSize: Option[Int] = None): DataFrame = {
    val bCoded = capBuckets(
      batchEmb.select(col(idCol).as("new_id"), col(vecCol).as("_v2"))
        .select(col("new_id"), col("_v2"), posexplode(
          Similarity.srpBuckets(col("_v2"), dim, planes, tables)).as(Seq("table", "bucket"))),
      Seq("table", "bucket"), maxBucketSize)
    srpEdgesAgainstCoded(standingEmb, standingCodes, bCoded,
      idCol, vecCol, threshold, maxBucketSize)
  }

  /** [[embeddingNearDupsAgainst]] body over an already-coded (and
    * already-capped) batch frame (new_id, _v2, table, bucket) — shared
    * with [[srpIngestCoded]], whose batch is coded ONCE for all three
    * consumers (internal edges, cross-side edges, the index append). */
  private def srpEdgesAgainstCoded(standingEmb: DataFrame, standingCodes: DataFrame,
                                   bCoded: DataFrame, idCol: String, vecCol: String,
                                   threshold: Double,
                                   maxBucketSize: Option[Int]): DataFrame = {
    val touched = bCoded.select(col("table"), col("bucket")).distinct()
    val sCodes = capBuckets(
      standingCodes.join(touched.hint("broadcast"), Seq("table", "bucket"), "left_semi"),
      Seq("table", "bucket"), maxBucketSize)
    val sv = sCodes.select(col("table"), col("bucket"), col(idCol).as("corpus_id"))
      .join(standingEmb.select(col(idCol).as("corpus_id"), col(vecCol).as("_v1")),
        Seq("corpus_id"))
    sv.join(bCoded, Seq("table", "bucket"))
      .filter(col("corpus_id") =!= col("new_id"))
      .withColumn("cos_sim", Similarity.cosine(col("_v1"), col("_v2")))
      .filter(col("cos_sim") >= threshold)
      .select(col("corpus_id"), col("new_id"), col("cos_sim"))
      .dropDuplicates("corpus_id", "new_id")
  }

  /** SRP-tier ingest survivors WITH their code rows — the
    * [[SemDedup.dedupIngestProbed]] of the beyond-[[SemDedup
    * .HierAssignCeiling]] tier, completing the per-batch fold entry
    * across all three quantizer tiers ([[graft.streaming
    * .SemDedupIngest.srpIngestStream]]). A batch id is dropped on a
    * ≥-threshold edge to ANY standing id (standing wins — the corpus
    * is curated) or to a SMALLER batch id (the min-id rule, the
    * [[SemDedup.dedupIngest]] semantics verbatim); survivors return
    * with their FULL (id, table, bucket) code rows — the rows a
    * standing [[srpIndex]] maintainer APPENDS, already computed
    * because the batch is coded ONCE (Caching-tracked) and the coded
    * frame serves all three consumers: the within-batch edge stream,
    * the cross-side edge stream, and the output itself. Candidate
    * verification runs IN PLACE on both streams (the
    * [[embeddingNearDups]] discipline: within-batch pairs die inside
    * the bucket's aggregation task, cross-side pairs inside the fused
    * cosine filter — junk never reaches an exchange); `maxBucketSize`
    * caps candidate GENERATION only, the appended code rows are the
    * uncapped encoding ([[srpIndexBuild]]'s contract — the cap is a
    * per-evaluation hot-bucket guard, not index state). */
  def srpIngestCoded(standingEmb: DataFrame, standingCodes: DataFrame,
                     batchEmb: DataFrame, idCol: String, vecCol: String,
                     dim: Int, threshold: Double, planes: Int,
                     tables: Int = 16,
                     maxBucketSize: Option[Int] = None): DataFrame = {
    val coded = graft.Caching.persistTracked(
      srpIndex(batchEmb, idCol, vecCol, dim, planes, tables))
    val withVec = capBuckets(
      coded.join(batchEmb.select(col(idCol), col(vecCol).as("_v2")), Seq(idCol)),
      Seq("table", "bucket"), maxBucketSize)
    // within-batch losers: the HIGHER end of any ≥-threshold pair
    // (NearPairsGenerator emits canonical id1 < id2), scored in place
    // per bucket — the embeddingNearDups kernel on the shared coding
    val internalLosers = withVec
      .select(col(idCol).as("id"), col("_v2").as("vec"), col("table"), col("bucket"))
      .groupBy(col("table"), col("bucket"))
      .agg(collect_list(struct(col("id"), col("vec"))).as("_members"))
      .select(graft.functions.NearPairsGenerator.nearPairs(col("_members"), threshold)
        .as(Seq("id1", "id2", "cos_sim")))
      .select(col("id2").as(idCol)).distinct()
    val corpusHits = srpEdgesAgainstCoded(standingEmb,
        standingCodes.select(col(idCol), col("table"), col("bucket")),
        withVec.select(col(idCol).as("new_id"), col("_v2"), col("table"), col("bucket")),
        idCol, vecCol, threshold, maxBucketSize)
      .select(col("new_id").as(idCol)).distinct()
    coded.join(internalLosers, Seq(idCol), "left_anti")
      .join(corpusHits, Seq(idCol), "left_anti")
  }

  /** [[srpIngestCoded]] projected to the surviving batch ids — the
    * id-only ingest answer when the caller maintains no standing
    * index (the anti-join input shape of the LSH/spans `*Against`
    * family). */
  def srpIngest(standingEmb: DataFrame, standingCodes: DataFrame,
                batchEmb: DataFrame, idCol: String, vecCol: String,
                dim: Int, threshold: Double, planes: Int,
                tables: Int = 16,
                maxBucketSize: Option[Int] = None): DataFrame =
    srpIngestCoded(standingEmb, standingCodes, batchEmb, idCol, vecCol,
      dim, threshold, planes, tables, maxBucketSize)
      .select(col(idCol)).distinct()

  /** Sorted-neighborhood candidate generation (the Hernández–Stolfo
    * merge/purge pattern): order every record by a blocking key, pair
    * each record with its next `windowSize − 1` successors in that
    * order. The classic entity-resolution complement to LSH banding —
    * where LSH needs a set/vector similarity to band on, sorted
    * neighborhood exploits an ORDERING: near-dups that share a key
    * prefix (normalized titles, URLs, names) land adjacent and are
    * caught regardless of token-set distance. Its candidate count is
    * also SKEW-IMMUNE by construction: exactly ≤ n·(w−1) pairs no
    * matter how degenerate the key distribution (a mass-duplicate key
    * that would square an LSH bucket just occupies a contiguous rank
    * run here). Returns (id1, id2, rank1, rank2) with
    * 1 ≤ rank2 − rank1 < windowSize and ranks 0-based in (key, id)
    * order — id breaks key ties, so ranks are total and reproducible.
    *
    * Scale: the global rank is [[SeqPack.prefixSum]]'s two-level scan
    * (ONE range exchange + broadcast partition offsets — never a
    * single-partition window over the data), and the neighborhood
    * self-join is banded on bucket = rank div w with each probe row
    * exploded to its own and the next bucket, so the join is keyed
    * with ≤ 2w rows per key. Total cost ∝ n·w.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, keyCol: String,
                              windowSize: Int): DataFrame = {
    require(windowSize >= 2, s"windowSize must be >= 2, got $windowSize")
    val w = windowSize.toLong
    val ranked = SeqPack.prefixSum(
        df.select(struct(col(keyCol), col(idCol)).as("_ord"), lit(1L).as("_one")),
        "_ord", "_one")
      .select(col(s"_ord.$idCol").as("id"), col("tok_start").as("rank"))
      .withColumn("_b", expr(s"rank div $w"))
    val probe = ranked.select(col("id").as("id1"), col("rank").as("rank1"),
      explode(array(col("_b"), col("_b") + 1)).as("_bucket"))
    val build = ranked.select(col("id").as("id2"), col("rank").as("rank2"),
      col("_b").as("_bucket"))
    // a qualifying pair's bucket gap is 0 or 1, and the build side keeps
    // ONE bucket per row, so each pair matches exactly once — no distinct
    probe.join(build, Seq("_bucket"))
      .filter(col("rank2") > col("rank1") && col("rank2") - col("rank1") < w)
      .select(col("id1"), col("id2"), col("rank1"), col("rank2"))
  }

  /** [[embeddingNearDups]] with the plane count sized to the corpus by
    * [[Similarity.srpPlanesFor]] — the ingest-path entry point, where
    * "how many planes" should never be the caller's problem: a fixed
    * plane count is an operating point for ONE corpus size and goes
    * quadratic past it (measured: planes=4 tuned at 2k vectors ran
    * exponent-2.28 at 10× corpus). Costs one extra `count()` scan of
    * the id column to learn n; at ingest that is noise against the
    * candidate join it right-sizes — and a caller that already counted
    * (SemDedup.dedupAuto's tier dispatch, q_embed_neardup_auto's
    * sentinel) passes `knownCount` so the corpus is not re-scanned
    * (r12 review: the redundant pass sat on exactly the >8.4M-row tier
    * whose rationale is avoiding wasted passes). */
  def embeddingNearDupsAuto(emb: DataFrame, idCol: String, vecCol: String,
                            dim: Int, threshold: Double, tables: Int = 16,
                            targetBucketSize: Int = 128,
                            maxBucketSize: Option[Int] = None,
                            knownCount: Option[Long] = None): DataFrame = {
    val n = knownCount.getOrElse(emb.select(col(idCol)).count())
    embeddingNearDups(emb, idCol, vecCol, dim, threshold,
      planes = Similarity.srpPlanesFor(n, targetBucketSize),
      tables = tables, maxBucketSize = maxBucketSize)
  }

  // ------------------------------------------------- exact n-gram Jaccard

  /** Distinct (outId, shingle) frame with shingles hashed to xxhash64
    * longs — THE one definition of the dedup family's hashed join key.
    * Fixed-width shuffle/sort keys and near-zero per-row allocation
    * (the prefixJaccardPairs rationale); exact up to 64-bit collisions,
    * and every cluster-family oracle replays the PLAIN-TEXT join, so a
    * collision on a verified corpus surfaces as a hash mismatch. One
    * definition site so the hash contract cannot silently fork between
    * the corpus and batch sides of any incremental join. */
  private[graft] def hashedShingles(docs: DataFrame, idCol: String,
                                    textCol: String, shingleN: Int,
                                    outId: String = "id"): DataFrame =
    // fanOut BEFORE tokenize (r19, guide §6): the driver tables are
    // single-row-group files, so without the spread the whole
    // tokenize+shingle+hash pipeline runs on the scan's one task;
    // projecting (id, text) first keeps the spread shuffle to exactly
    // the bytes the kernel needs (guide §2.3). No-op on multi-split
    // inputs — see Tables.fanOut.
    graft.Tables.fanOut(docs.select(col(idCol).as(outId), col(textCol).as("_txt")))
      .select(col(outId), TextFns.tokens(col("_txt")).as("_toks"))
      .select(col(outId), explode(TextFns.wordShingles(col("_toks"), shingleN)).as("_shs"))
      .select(col(outId), xxhash64(col("_shs")).as("shingle"))
      .distinct()

  /** Positional variant for the span family: (outId, pos, gram) with
    * 1-based token position and the gram hashed to a long — same
    * single-definition-site contract as [[hashedShingles]] (the span
    * oracles replay plain-text positional joins). NOT distinct: the
    * diagonal-islands trick needs every occurrence. */
  private[graft] def positionalGrams(docs: DataFrame, idCol: String,
                                     textCol: String, gramN: Int): DataFrame = {
    val toks = col("_toks")
    // fanOut before tokenize — same single-row-group-scan rationale as
    // [[hashedShingles]]
    graft.Tables.fanOut(docs.select(col(idCol).as("id"), col(textCol).as("_txt")))
      .select(col("id"), TextFns.tokens(col("_txt")).as("_toks"))
      .filter(size(toks) >= gramN)
      .select(col("id"), posexplode(transform(
          sequence(lit(1), size(toks) - (gramN - 1)),
          i => array_join(slice(toks, i, lit(gramN)), " ")))
        .as(Seq("_p0", "gram")))
      .select(col("id"), (col("_p0") + 1).cast("long").as("pos"),
        xxhash64(col("gram")).as("gram"))
  }

  /** Keyed frequency cap: keep `rows` whose `keyCol` value occurs at
    * most `cap` times in `freqSource` — the posting-list analogue of
    * [[capBuckets]]. Frequencies may be counted on a DIFFERENT frame
    * than the one filtered: the ingest span path caps against CORPUS
    * gram frequencies (the stable precomputed index), never today's
    * batch. */
  private def capByFreq(rows: DataFrame, freqSource: DataFrame,
                        keyCol: String, cap: Int): DataFrame = {
    val keep = freqSource.groupBy(col(keyCol)).agg(count(lit(1)).as("_f"))
      .filter(col("_f") <= cap).select(col(keyCol))
    rows.join(keep, Seq(keyCol))
  }

  /** Diagonal-islands span detection over a (doc_a, doc_b, p1, p2,
    * _diag) match frame: consecutive gram matches on one diagonal
    * collapse into a maximal span of count + gramN − 1 tokens — ONE
    * definition of the islands algebra, shared by [[duplicateSpans]]
    * and [[duplicateSpansAgainst]] so a fix to the run-key/span-length
    * math cannot drift between the full and ingest paths (their
    * "output schema matches" contract would break silently). */
  private def spansFromMatches(matches: DataFrame, gramN: Int,
                               minSpanTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("_diag"))
      .orderBy(col("p1"))
    matches
      .withColumn("_runkey", col("p1") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("_diag"), col("_runkey"))
      .agg(min(col("p1")).as("a_start"), min(col("p2")).as("b_start"),
        (count(lit(1)) + lit(gramN - 1).cast("long")).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"),
        col("span_tokens"))
  }

  /** Exact word-n-gram Jaccard similarity for all document pairs sharing
    * ≥1 shingle, via the inverted-index pattern:
    *
    *   (id, shingle) distinct ──┬─ groupBy(id).count → |A| per doc
    *                            └─ self-join on shingle → co-count |A∩B|
    *   jaccard = |A∩B| / (|A| + |B| - |A∩B|)
    *
    * Scale: join is keyed on shingle; `maxShingleDf` drops stop-shingles
    * whose posting lists would square (a shingle shared by d docs yields
    * d² pair rows) — the standard precision-neutral guard for near-dup
    * detection at corpus scale (keep None for exact semantics).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, minJaccard: Double = 0.0,
                        maxShingleDf: Option[Int] = None): DataFrame = {
    // shingles hashed to longs before the distinct/self-join — same
    // rationale and same exact-up-to-xxhash64-collisions contract as
    // [[prefixJaccardPairs]] (the cluster-family oracles all replay the
    // plain-text join, so a collision on a verified corpus goes red)
    val sh = hashedShingles(docs, idCol, textCol, shingleN)
    // `filtered` feeds the sizes agg AND both sides of the shingle
    // self-join — persist so the tokenize+shingle+hash+distinct pipeline
    // runs once, not 3×; released by the caller via Caching.release()
    val filtered = graft.Caching.persistTracked(maxShingleDf match {
      case Some(cap) =>
        val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("_df")).filter(col("_df") <= cap)
        sh.join(dfreq.select("shingle"), Seq("shingle"))
      case None => sh
    })
    val sizes = filtered.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val pairStream = filtered.select(col("id").as("id1"), col("shingle"))
      .join(filtered.select(col("id").as("id2"), col("shingle")), Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
    val co = pairStream.groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("common"))
    co.join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("sz", "sz1"), Seq("id1"))
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("sz", "sz2"), Seq("id2"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz1") + col("sz2") - col("common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), col("common"), col("sz1"), col("sz2"), col("jaccard"))
  }

  /** [[ngramJaccardPairs]] with PREFIX FILTERING (Chaudhuri et al.
    * ICDE'06; Xiao et al. WWW'08 "PPJoin") instead of the stop-shingle
    * df cap: each document indexes only its `|d| − ⌈τ·|d|⌉ + 1` rarest
    * shingles (global (df, shingle) order — a total order, so both the
    * theorem and the plan are deterministic), and a pair is a candidate
    * only if the two PREFIXES share a shingle. Any pair with
    * Jaccard ≥ τ has overlap ≥ ⌈τ·|d|⌉ for each side, so its smallest
    * common shingle provably falls in both prefixes — the filter is
    * LOSSLESS, unlike `maxShingleDf` (which trades recall on boilerplate
    * shingles for the bound). The exact intersection is then counted
    * only for candidate pairs, and the threshold is applied as the
    * integer cross-multiplication `common·(den+num) ≥ num·(sz1+sz2)` —
    * τ is taken as the rational `tauNum/tauDen` so no float touches the
    * decision.
    *
    * Scale shape: candidate generation joins PREFIX×PREFIX on the
    * shingle — posting lists of the rarest shingles, the ones that
    * cannot square. Costs scale with candidates, not with all
    * co-shingled pairs (12× fewer on the synthetic corpus at τ=1/2).
    * Verification is IN PLACE (r14): each doc's sorted shingle array
    * attaches once per distinct candidate pair and
    * [[graft.functions.SortedIntersectCount]] counts the overlap in a
    * codegen'd merge — no per-pair fan, no aggregation exchange (the
    * old fan/groupBy was the measured 300×-rung disk wall). The
    * distinct (id, shingle) frame feeds df counts, the prefix window
    * and the per-doc arrays — persisted through
    * [[graft.Caching.persistTracked]].
    *
    * `suffixFilter`: the lossless PPJoin+ suffix filter
    * ([[graft.functions.SuffixFilter]]) — OFF by default, with the r14
    * measurement in its scaladoc: on long-doc corpora it prunes too few
    * candidates to pay for its sample payload; enable for short-record
    * high-τ workloads.
    *
    * `maxShingleDf`: OPTIONAL safety valve for boilerplate-heavy corpora.
    * The prefix principle bounds candidates by the RAREST shingles, but a
    * stop-shingle that still lands inside many SHORT docs' prefixes can
    * square its posting list in the candidate join. With a cap, shingles
    * with df > cap are dropped from the universe FIRST and the result is
    * the exact threshold join over the remaining shingle space — same
    * contract as [[ngramJaccardAgainst]]'s cap, and explicitly LOSSY on
    * pairs whose overlap lives only in capped-out boilerplate (a pair of
    * pure-boilerplate docs stops being reported). Default None keeps the
    * lossless PPJoin semantics the q_prefix_jaccard oracle proves.
    */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, tauNum: Int = 1,
                         tauDen: Int = 2,
                         maxShingleDf: Option[Int] = None,
                         suffixFilter: Boolean = false): DataFrame = {
    val (candRows, sh, _) = prefixCandidateRows(docs, idCol, textCol,
      shingleN, tauNum, tauDen, maxShingleDf, suffixFilter)
    val tauSum = lit((tauDen + tauNum).toLong)
    val cand = candRows.select(col("id1"), col("id2")).distinct()
    // VERIFY IN PLACE (r14): each doc's sorted shingle array attaches
    // once per candidate pair and a codegen'd merge pass counts the
    // intersection — replacing the join/groupBy formulation that fanned
    // every pair by |d1| skinny rows and re-aggregated them. Measured
    // at the 100× ladder rung (500k docs): the fan was 12.4 GB shuffle
    // + 14 GB disk spill + 35 GB memory spill — the exact frame whose
    // spill killed the 300× run on this box (SCALE.md r13); the pair
    // stream with arrays is ~2 orders smaller in rows and needs no
    // aggregation exchange. docToks is persisted: both sides of the
    // pair attach read it.
    val docToks = graft.Caching.persistTracked(
      sh.groupBy(col("id")).agg(
        sort_array(collect_list(col("shingle"))).as("_toks")))
    cand
      .join(docToks.select(col("id").as("id1"), col("_toks").as("_t1")), Seq("id1"))
      .join(docToks.select(col("id").as("id2"), col("_toks").as("_t2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        graft.functions.SortedIntersectCount(col("_t1"), col("_t2")).as("common"),
        size(col("_t1")).cast("long").as("sz1"),
        size(col("_t2")).cast("long").as("sz2"))
      .filter(col("common") * tauSum >=
        lit(tauNum.toLong) * (col("sz1") + col("sz2")))
      .select(col("id1"), col("id2"), col("common"), col("sz1"), col("sz2"),
        (col("common").cast("double") / (col("sz1") + col("sz2") - col("common")))
          .as("jaccard"))
  }

  /** The PPJoin candidate stage of [[prefixJaccardPairs]], exposed
    * pre-distinct for the scale harness (tools/SuffixLadder): the
    * returned first frame is the (id1, id2) match-row stream AFTER the
    * length/positional(/suffix) filters but BEFORE the distinct. Also
    * returns the working (id, shingle) frame and per-doc sizes. (The
    * r14 harness run on this stream re-attributed the 300× disk wall:
    * the candidate stream was 1.8 GB of shuffle, the old verification
    * fan 12+ GB — hence the verify-in-place rewrite in
    * [[prefixJaccardPairs]] and the suffix filter's off-by-default.) */
  private[graft] def prefixCandidateRows(docs: DataFrame, idCol: String, textCol: String,
                                         shingleN: Int, tauNum: Int, tauDen: Int,
                                         maxShingleDf: Option[Int],
                                         suffixFilter: Boolean): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"tau must be a rational in (0, 1], got $tauNum/$tauDen")
    // Shingles are HASHED to 64-bit longs before anything shuffles:
    // every downstream stage — the distinct, the df agg, the per-doc
    // window sort, the prefix×prefix candidate join, both verification
    // joins — then moves and compares fixed-width longs instead of
    // ~25-byte strings. That's 2-3× less shuffle/sort volume and, more
    // importantly, near-zero per-row allocation in the hottest plan of
    // the suite (string-keyed sorts/joins churn the heap; this query is
    // the one that degrades first under memory pressure). Cost: exact-
    // up-to-xxhash64-collisions semantics, the same honesty class as
    // the MinHash default; the q_prefix_jaccard oracle replays the
    // PLAIN-TEXT all-pairs query, so a collision on the verified corpus
    // would surface as a hash mismatch.
    val shAll = hashedShingles(docs, idCol, textCol, shingleN)
    // (sh, dfreq): the working (id, shingle) frame and its per-shingle
    // document frequencies. Capped: filter the universe before anything
    // downstream sees it, so sizes/prefix/verification all agree on the
    // same shingle space and the output Jaccard is exact over it.
    val (sh, dfreq) = maxShingleDf match {
      case Some(cap) =>
        require(cap >= 1, s"maxShingleDf must be positive: $cap")
        val pAll = graft.Caching.persistTracked(shAll)
        val keep = pAll.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= cap)
        val capped = graft.Caching.persistTracked(
          pAll.join(keep.select(col("shingle"), col("_df")), Seq("shingle"))
            .select(col("id"), col("shingle")))
        (capped, keep)
      case None =>
        val p = graft.Caching.persistTracked(shAll)
        (p, p.groupBy(col("shingle")).agg(count(lit(1)).as("_df")))
    }
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val byDoc = Window.partitionBy(col("id"))
    // ⌈τ·sz⌉ in integers: (num·sz + den − 1) div den
    // integer `div`, matching the comment's algebra exactly (a double
    // `/`+floor is value-identical below 2^52 but invites a port to
    // oracle SQL as `/`, the division trap CLAUDE.md forbids)
    val ceilTauSz = expr(s"(${tauNum}L * _w_sz + ${tauDen - 1}L) div ${tauDen}L")
    // the windowed positional frame feeds the prefix filter AND (with
    // the suffix filter on) the per-doc sample extraction — persisted
    // in that case so the df-join + per-doc sort runs once, not twice
    val pos0 = sh.join(dfreq, Seq("shingle"))
      .withColumn("_rn", row_number().over(byDoc.orderBy(col("_df"), col("shingle"))))
      .withColumn("_w_sz", count(lit(1)).over(byDoc))
      .select(col("id"), col("shingle"), col("_df"), col("_rn"), col("_w_sz"))
    val pos = if (suffixFilter) graft.Caching.persistTracked(pos0) else pos0
    val prefixBase = pos
      .filter(col("_rn") <= col("_w_sz") - ceilTauSz + 1)
      .select(col("id"), col("shingle"), col("_w_sz"), col("_rn"))
    // persisted: BOTH sides of the candidate self-join read this frame —
    // uncached, the window + df-join sub-plan executes twice
    val prefix = graft.Caching.persistTracked(
      if (!suffixFilter) prefixBase
      else {
        // Q token-order samples per doc ((df, shingle) pairs interleaved,
        // position order) — the fixed-width payload the suffix filter
        // rank-queries per candidate row. Selection: positions where
        // ⌊rn·Q/sz⌋ crosses an integer ⟺ rn = ⌈q·sz/Q⌉ for some q
        // (SuffixFilter.samplePos recomputes these positions exactly).
        val qq = graft.functions.SuffixFilter.Q
        val samples = pos
          .filter(expr(s"(_rn * $qq) div _w_sz > ((_rn - 1) * $qq) div _w_sz"))
          .groupBy(col("id"))
          .agg(flatten(transform(
            array_sort(collect_list(struct(col("_rn"), col("_df").as("d"), col("shingle").as("s")))),
            x => array(x.getField("d"), x.getField("s")))).as("_smp"))
        prefixBase.join(samples, Seq("id"))
      })
    // Three lossless PPJoin filters DURING the shingle join, before the
    // distinct shuffle and the per-pair verification fan pay for the
    // survivors (integer arithmetic throughout, each provably drops
    // only pairs/rows that cannot reach τ):
    //  - length filter: common ≤ min(sz1, sz2), so τ·max > min kills;
    //  - positional filter: positions follow the SAME canonical
    //    (df, shingle) order in every doc, so for a pair's earliest
    //    shared shingle at prefix positions (i, j) nothing before it is
    //    shared in either doc and common ≤ min(sz1−i, sz2−j) + 1; a
    //    true pair's earliest match always survives, so keeping pairs
    //    with ANY surviving match loses nothing;
    //  - suffix filter ([[graft.functions.SuffixFilter]], Xiao et al.
    //    WWW'08 §3.3): Hamming-bounds the suffix overlap from the
    //    sampled token order — the same earliest-match justification.
    val tauSum = lit((tauDen + tauNum).toLong)
    val joinCols1: Seq[Column] = Seq(col("id").as("id1"), col("_w_sz").as("_sz1"),
      col("_rn").as("_rn1"), col("shingle")) ++
      (if (suffixFilter) Seq(col("_smp").as("_smp1")) else Nil)
    val joinCols2: Seq[Column] = Seq(col("id").as("id2"), col("_w_sz").as("_sz2"),
      col("_rn").as("_rn2"), col("shingle")) ++
      (if (suffixFilter) Seq(col("_smp").as("_smp2")) else Nil)
    val joined = prefix.select(joinCols1: _*)
      .join(prefix.select(joinCols2: _*), Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .filter(lit(tauNum.toLong) * greatest(col("_sz1"), col("_sz2")) <=
        lit(tauDen.toLong) * least(col("_sz1"), col("_sz2")))
      .filter((least(col("_sz1") - col("_rn1"), col("_sz2") - col("_rn2")) + 1) * tauSum >=
        lit(tauNum.toLong) * (col("_sz1") + col("_sz2")))
    val candRows = if (!suffixFilter) joined
      else joined.filter(graft.functions.SuffixFilterKeep(
        col("_smp1"), col("_rn1").cast("long"), col("_sz1"),
        col("_smp2"), col("_rn2").cast("long"), col("_sz2"),
        tauNum, tauDen))
    (candRows, sh, sizes)
  }

  /** Incremental near-dup check: score each NEW document against the
    * EXISTING corpus only — the daily-ingest posture, where re-running
    * the full all-pairs pass over 100 TB for a 0.1 TB increment would be
    * absurd. Same inverted-index shape as [[ngramJaccardPairs]], but the
    * shingle join is corpus-side × new-side (never corpus × corpus), so
    * cost scales with the increment. Returns (corpus_id, new_id, common,
    * sz1, sz2, jaccard) for cross pairs at or above `minJaccard`; anti-
    * join the new batch against `new_id` to admit only novel docs.
    * `maxShingleDf` caps stop-shingle posting lists as in the full pass.
    */
  def ngramJaccardAgainst(corpus: DataFrame, newDocs: DataFrame, idCol: String,
                          textCol: String, shingleN: Int = 3,
                          minJaccard: Double = 0.0,
                          maxShingleDf: Option[Int] = None): DataFrame = {
    // hashed shingles, as in [[ngramJaccardPairs]] — both sides use the
    // same hash so the corpus×new join key space is consistent
    val corpusSh0 = hashedShingles(corpus, idCol, textCol, shingleN, "corpus_id")
    val newSh0 = hashedShingles(newDocs, idCol, textCol, shingleN, "new_id")
    // Both frames feed a size agg AND the cross join below — persist so
    // the tokenize+shingle+hash+distinct pipeline runs once per side
    // (the lshCandidates re-attach rationale), released by the caller
    // via Caching.release().
    val (corpusSh, newSh) = maxShingleDf match {
      case Some(cap) =>
        // The capped UNIVERSE is defined by CORPUS df and applies to
        // BOTH sides: a shingle with corpus df > cap leaves the corpus
        // frame, the new frame, and therefore sz1, sz2 and common alike
        // — the same "exact Jaccard over the df ≤ cap shingle space"
        // contract as the full pass. An asymmetric cap (corpus-only)
        // would count capped-out shingles in sz2 but never in common,
        // deflating jaccard and admitting exact duplicates of
        // boilerplate-heavy corpus docs as novel. New-side shingles
        // absent from the corpus have df 0 and always stay.
        val pCorpus = graft.Caching.persistTracked(corpusSh0)
        val dropped = pCorpus.groupBy("shingle")
          .agg(count(lit(1)).as("_df")).filter(col("_df") > cap)
          .select("shingle")
        (graft.Caching.persistTracked(
           pCorpus.join(dropped, Seq("shingle"), "left_anti")),
         graft.Caching.persistTracked(
           newSh0.join(dropped, Seq("shingle"), "left_anti")))
      case None =>
        (graft.Caching.persistTracked(corpusSh0),
         graft.Caching.persistTracked(newSh0))
    }
    val sz1 = corpusSh.groupBy(col("corpus_id")).agg(count(lit(1)).as("sz1"))
    val sz2 = newSh.groupBy(col("new_id")).agg(count(lit(1)).as("sz2"))
    corpusSh.join(newSh, Seq("shingle"))
      .groupBy(col("corpus_id"), col("new_id")).agg(count(lit(1)).as("common"))
      .join(sz1, Seq("corpus_id")).join(sz2, Seq("new_id"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz1") + col("sz2") - col("common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("corpus_id"), col("new_id"), col("common"),
        col("sz1"), col("sz2"), col("jaccard"))
  }

  // ------------------------------------------------------ dedup clusters

  /** Connected components over an undirected near-dup pair graph: every
    * node gets `cluster_id` = the minimum id reachable from it, so a
    * chain a–b, b–c, c–d collapses into ONE cluster even though (a,d)
    * was never emitted as a pair — the transitive step pairwise dedup
    * output alone cannot give you. Keep `doc_id == cluster_id` rows (one
    * canonical representative per cluster) to materialize the deduped
    * corpus.
    *
    * Algorithm: min-label propagation to a fixpoint — per round, each
    * node takes the min of its own label and its neighbors' labels (one
    * keyed join + one keyed min-agg per round, all map-side-combinable).
    * Rounds = the graph diameter, and near-dup graphs are shallow (a
    * duplicate cluster's diameter is tiny); for adversarially deep
    * graphs (a 10⁶-link chain) swap in the two-phase large-star/
    * small-star formulation — same join primitives, O(log n) rounds.
    *
    * ONE driver action per round: the changed-label count rides the
    * same job that materializes the round's LAZY localCheckpoint (the
    * old label joins in, `sum(label != old)` is the action), so the
    * driver never pays a separate convergence-probe job — at 100 TB
    * round counts, job-launch + scan overhead per probe is real money.
    * `localCheckpoint` truncates the iterative lineage (a cluster job
    * would checkpoint to durable storage instead). DedupSpec pins the
    * one-action-per-round contract via a QueryExecutionListener count.
    *
    * @param edges undirected pair list (edge columns `id1`, `id2`)
    * @param nodes one row per node id (singletons become their own
    *              cluster); pass the full corpus ids. Edge endpoints
    *              ABSENT from `nodes` are ignored as label carriers
    *              (they neither appear in the output nor forward labels
    *              between their neighbors — the in-agg confinement
    *              below), identical to the pre-r19 inner-join
    *              semantics; an edge through a missing node therefore
    *              does NOT connect its endpoints.
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame, idCol: String,
                          maxRounds: Int = 50): DataFrame = {
    // localCheckpoint preserves the physical partitioning in the
    // LogicalRDD it returns, so pre-partitioning sym on dst and labels
    // on nid makes every round's neighbor join exchange-free on BOTH
    // sides (each round's output re-checkpoints already hashed on nid)
    // — the only shuffle left per round is the min-agg re-key to src
    // LAZY pre-loop checkpoints (r19): both frames materialize inside
    // round 1's single action (two independent jobs became zero — the
    // partitioning contract below is a property of the checkpointed
    // RDD either way); eager(true) paid two blocking job launches
    // before the first round for nothing the loop could not absorb
    // ONE pass over `edges` (r19): the old two-branch union referenced
    // the caller's edge frame twice, and an UNMATERIALIZED expensive
    // pair pipeline (q_dedup_clusters' shingle self-join) computed
    // twice inside round 1's checkpoint job — explode emits both
    // orientations map-side from a single scan instead (measured
    // q_dedup_clusters 4.49 -> ~3.0 s min-of-5)
    val sym = edges
      .select(explode(array(
        struct(col("id1").as("src"), col("id2").as("dst")),
        struct(col("id2").as("src"), col("id1").as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      .repartition(col("dst"))
      .localCheckpoint(false)
    var labels = nodes.select(col(idCol).as("nid"), col(idCol).as("label"))
      .repartition(col("nid"))
      .localCheckpoint(false)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val nbrMin = sym.join(labels, sym("dst") === labels("nid"))
        .select(col("src").as("nid"), col("label"))
      // lazy checkpoint: the sum(_chg) action below materializes the
      // round's label blocks AND answers the convergence probe in the
      // SAME job. The old label is recovered INSIDE the min-agg rather
      // than by a second keyed join: each nid has exactly ONE own-label
      // row (labels is grouped output), so tagging the union branches
      // and taking max(when(_own, label)) yields the old label for
      // free — one hash-agg instead of hash-agg + join per round (r19)
      // CONFINEMENT (r20, the r19 ADVICE corner): an edge endpoint
      // absent from `nodes` has no own row, so its group's _old is
      // NULL — keeping it would (a) leak non-`nodes` rows into the
      // output and (b) feed NULL into the convergence sum, so a round
      // whose only change is frontier growth through such a node reads
      // as converged and freezes propagation early. Dropping the
      // _old-IS-NULL groups INSIDE the same agg restores the pre-r19
      // inner-join semantics (foreign endpoints are never label
      // carriers) at zero extra exchange; for contract-compliant input
      // (endpoints ⊆ nodes — the scaladoc @param rule) the filter
      // matches no row. Spec-pinned: DedupSpec's edges-⊄-nodes fixture.
      val next = labels.select(col("nid"), col("label"), lit(true).as("_own"))
        .union(nbrMin.select(col("nid"), col("label"), lit(false).as("_own")))
        .groupBy(col("nid")).agg(
          min(col("label")).as("label"),
          max(when(col("_own"), col("label"))).as("_old"))
        .filter(col("_old").isNotNull)
        .select(col("nid"), col("label"),
          (col("label") =!= col("_old")).cast("long").as("_chg"))
        .localCheckpoint(false)
      val changed = next.agg(coalesce(sum(col("_chg")), lit(0L))).first().getLong(0)
      converged = changed == 0L
      labels = next.select(col("nid"), col("label"))
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds " +
      "(graph deeper than expected — use connectedComponentsStar)")
    labels.select(col("nid").as(idCol), col("label").as("cluster_id"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction — the deep-graph path [[connectedComponents]]'s
    * scaladoc promises: min-label propagation needs diameter-many
    * rounds (a million-link chain is a million joins), star contraction
    * converges in O(log n) rounds on any graph (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). Same
    * output contract as [[connectedComponents]]: (idCol, cluster_id =
    * min reachable id), singletons included, and edge endpoints absent
    * from `nodes` are not label carriers.
    *
    * Both operations are expressed per-EDGE, never per-node-with-
    * neighbor-list (no collect_list — a hub node's adjacency never
    * materializes on one task):
    *   - large-star: for every directed (u,v), emit (v, m(u)) where
    *     m(u) = min(u, min N(u)) and v > u — a min-agg on u plus a
    *     keyed join back on u, both map-side-combinable/keyed.
    *   - small-star: key every canonical (v,u), v<u, on the LARGER
    *     endpoint u; emit (v, m⁻(u)) for v ≠ m⁻(u) plus (u, m⁻(u)),
    *     where m⁻(u) = min of u's smaller neighbors.
    * At the fixpoint every component is a star rooted at its minimum
    * id. ONE driver action per round, as in [[connectedComponents]]:
    * the convergence probe (edge set unchanged) is the size of the
    * symmetric difference old-vs-new — a full-outer join null-count
    * that rides the same job materializing the round's lazy
    * localCheckpoint (both sides are distinct canonical edge sets, so
    * zero difference ⟺ set equality, exactly the old same-count +
    * no-new-edges conjunction that cost 3 driver actions).
    */
  def connectedComponentsStar(edges: DataFrame, nodes: DataFrame, idCol: String,
                              maxRounds: Int = 30): DataFrame = {
    // confinement to `nodes`, once before the loop: an edge with an
    // endpoint outside the node set is dropped, so such an endpoint
    // neither appears in the output nor joins its neighbors — the
    // connectedComponents contract (its in-agg _old filter)
    // LAZY, with no isEmpty probe (the connectedComponents r19 rule):
    // round 1's set-diff probe materializes `e`, and an empty edge set
    // converges there with a zero difference
    def inNodes(c: String): DataFrame = nodes.select(col(idCol).as(c))
    var e = edges.select(
        least(col("id1"), col("id2")).as("u"), greatest(col("id1"), col("id2")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .join(inNodes("u"), Seq("u"), "left_semi")
      .join(inNodes("v"), Seq("v"), "left_semi")
      .localCheckpoint(false)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // large-star over both edge directions. No intermediate distinct
      // (r19): the small-star min-agg below is duplicate-INSENSITIVE
      // (min over the same support set) and the per-round `.distinct()`
      // at the bottom canonicalizes the emitted SET either way, so the
      // old `large.distinct()` and the inner distinct inside the union
      // were two full exchanges per round spent deduplicating rows the
      // final distinct deduplicates again — dropping both leaves the
      // per-round edge SET (and hence the round trajectory and the
      // fixpoint) bit-identical, with 5 → 3 shuffles per round
      // (plan evidence: plans/r19/q_star_clusters_{before,after}.txt).
      val nbrs = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u")).agg(min(col("v")).as("mnv"))
        .select(col("u"), least(col("u"), col("mnv")).as("m"))
      val large = nbrs.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v")) // m < u < v: already canonical
      // small-star over edges keyed on their larger endpoint
      val down = large.select(col("v").as("u"), col("u").as("v")) // (larger, smaller)
      val minsS = down.groupBy(col("u")).agg(min(col("v")).as("m")) // m < u by construction
      val joined = down.join(minsS, Seq("u"))
      val small = joined.filter(col("v") =!= col("m"))
        .select(col("m").as("u"), col("v")) // m = min(N⁻) < v
        .union(joined.select(col("m").as("u"), col("u").as("v")))
        .distinct()
        .localCheckpoint(false)
      val diff = small.select(col("u"), col("v"), lit(1).as("_s"))
        .join(e.select(col("u"), col("v"), lit(1).as("_e")), Seq("u", "v"), "full_outer")
        .agg(coalesce(sum((col("_s").isNull || col("_e").isNull).cast("long")), lit(0L)))
        .first().getLong(0)
      converged = diff == 0L
      e = small
      round += 1
    }
    require(converged, s"connectedComponentsStar did not converge in $maxRounds rounds")
    nodes.select(col(idCol).as("nid"))
      .join(e.select(col("v").as("nid"), col("u").as("label")), Seq("nid"), "left")
      .select(col("nid").as(idCol),
        coalesce(col("label"), col("nid")).as("cluster_id"))
  }

  /** Incremental connected-components MAINTENANCE — the cluster-closure
    * analogue of the ingest family ([[lshCandidatesAgainst]],
    * [[ngramJaccardAgainst]], [[duplicateSpansAgainst]]): fold a new
    * batch into a STANDING min-id cluster assignment without re-running
    * CC over the corpus. Existing components contract to their
    * cluster_id super-node (each already the min id of its members, so
    * min-label over super-nodes IS min-label over the union), the new
    * edges map endpoints through the assignment, and CC runs only on
    * the CONTRACTED graph — sized by the batch's merges, not by the
    * corpus. Final labels compose through one keyed join; components
    * the batch never touched keep their label without being read.
    *
    * Correctness contract: output ≡ [[connectedComponents]] from
    * scratch on (old edges ∪ new edges) — q_incremental_cc's oracle
    * replays the FULL recursive closure, so the hash match is the
    * equivalence proof.
    *
    * @param labels   standing assignment (idCol, cluster_id) — the
    *                 previous CC output over the corpus
    * @param newEdges pair list (id1, id2) incident to the batch
    *                 (batch–batch and batch–corpus; ids must appear in
    *                 `labels` or `newNodes`)
    * @param newNodes one row per BATCH node id, disjoint from `labels`
    *                 (unmatched batch docs become singleton clusters)
    */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame,
                            newNodes: DataFrame, idCol: String): DataFrame = {
    val base = labels.select(col(idCol).as("nid"), col("cluster_id").as("label"))
      .union(newNodes.select(col(idCol).as("nid"), col(idCol).as("label")))
    // lazy checkpoint (r19): `contracted` is referenced by the super-node
    // union (twice) and the CC run — uncheckpointed, the two
    // batch-assignment joins re-ran per reference; the lazy checkpoint
    // shares one materialization across all of them inside the first
    // action (the CC loop's round-1 probe), no extra driver action
    val contracted = newEdges
      .join(base.select(col("nid").as("id1"), col("label").as("_l1")), Seq("id1"))
      .join(base.select(col("nid").as("id2"), col("label").as("_l2")), Seq("id2"))
      .filter(col("_l1") =!= col("_l2"))
      .select(least(col("_l1"), col("_l2")).as("id1"),
        greatest(col("_l1"), col("_l2")).as("id2"))
      .distinct()
      .localCheckpoint(false)
    val superNodes = contracted.select(col("id1").as("nid"))
      .union(contracted.select(col("id2").as("nid"))).distinct()
    val remap = connectedComponents(contracted, superNodes, "nid")
      .select(col("nid").as("label"), col("cluster_id").as("_new"))
    base.join(remap, Seq("label"), "left")
      .select(col("nid").as(idCol),
        coalesce(col("_new"), col("label")).as("cluster_id"))
  }

  /** Decremental maintenance of a standing min-id cluster assignment —
    * the DELETION path the ingest family lacked (r13 verdict task 5):
    * takedowns and license revocations remove docs from a curated
    * corpus, and removing a doc can SPLIT a connected component (the
    * removed doc was the only bridge), which no label-local fix-up can
    * express — the touched components must be re-clustered from their
    * surviving edges. Everything else must keep its label WITHOUT being
    * re-clustered.
    *
    * Scope rule: a component is touched iff it loses a member. The
    * recompute runs [[connectedComponentsStar]] over ONLY the touched
    * components' surviving nodes and edges — cost scales with the
    * touched components (plus one keyed scan of `labels` and `edges`
    * to carve them out; the removed-id and touched-label frames are
    * small and broadcast), never a corpus-wide CC.
    *
    * Correctness contract: output ≡ from-scratch CC on (nodes ∖
    * removed, edges with neither endpoint removed) — q_remove_docs'
    * oracle replays the FULL recursive closure on the surviving edge
    * set, so the hash match is the scoped ≡ global equivalence proof.
    * Note min-id labels can CHANGE without a split: removing a
    * component's minimum id relabels its survivors (the oracle replays
    * that too).
    *
    * The signature/gram/sketch INDEX side of a deletion is a plain
    * left-anti join on the id; this operator owns the one part that is
    * not.
    *
    * @param labels  standing assignment (idCol, cluster_id) — a prior
    *                CC output over the corpus
    * @param edges   the standing dup-edge list (id1, id2) the
    *                assignment was built from (endpoints of an edge
    *                share a cluster in `labels`)
    * @param removed one row per removed doc id (ids absent from
    *                `labels` are ignored)
    */
  def removeDocs(labels: DataFrame, edges: DataFrame, removed: DataFrame,
                 idCol: String): DataFrame = {
    val lab = graft.Caching.persistTracked(
      labels.select(col(idCol).as("nid"), col("cluster_id").as("label")))
    val rem = removed.select(col(idCol).as("nid")).distinct()
    // every cluster that loses a member; small (∝ the removal batch) —
    // broadcast through the semi/anti joins below
    val touchedLabels = graft.Caching.persistTracked(
      lab.join(rem, Seq("nid"), "left_semi").select(col("label")).distinct())
    val survivors = lab.join(touchedLabels.hint("broadcast"), Seq("label"), "left_semi")
      .join(rem.hint("broadcast"), Seq("nid"), "left_anti")
    // surviving edges of touched components: both endpoints alive, and
    // the component touched (edge endpoints share a component, so id1's
    // label decides membership)
    val eSurv = edges
      .join(rem.select(col("nid").as("id1")).hint("broadcast"), Seq("id1"), "left_anti")
      .join(rem.select(col("nid").as("id2")).hint("broadcast"), Seq("id2"), "left_anti")
      .join(lab.select(col("nid").as("id1"), col("label")), Seq("id1"))
      .join(touchedLabels.hint("broadcast"), Seq("label"), "left_semi")
      .select(col("id1"), col("id2"))
    val recomputed = connectedComponentsStar(eSurv, survivors.select(col("nid")), "nid")
    lab.join(touchedLabels.hint("broadcast"), Seq("label"), "left_anti")
      .select(col("nid").as(idCol), col("label").as("cluster_id"))
      .unionByName(recomputed.select(col("nid").as(idCol), col("cluster_id")))
  }

  /** Exact substring-containment pairs — the news-wire/boilerplate case
    * Jaccard under-scores (a 50-token article inside a 5000-token page
    * has Jaccard ≈ 0.01 yet is a pure duplicate). A doc is "contained"
    * when its full canonical token stream appears contiguously inside
    * another doc's.
    *
    * Candidate rule: the contained doc's ANCHOR (first `anchorN`
    * tokens) must equal SOME sliding `anchorN`-window of the container
    * — so the index join is keyed by one shingle per anchor, never
    * all-pairs, and candidate cost is bounded by the anchor's posting
    * size (`maxAnchorDf` caps boilerplate-opener postings, the
    * ngramJaccardPairs df-cap contract). Ids-only through the join;
    * canonical texts re-attach only for the final `contains` check on
    * the surviving candidates. Docs shorter than `anchorN` tokens are
    * out of scope (exact dedup already owns them).
    *
    * Emission: proper containment (container strictly longer), plus
    * equal-text pairs once, canonically (in_id < out_id) — so together
    * with [[ngramJaccardPairs]] the near-dup surface covers both axes.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       anchorN: Int = 10,
                       maxAnchorDf: Option[Int] = None): DataFrame = {
    val canon = docs
      .select(col(idCol).as("id"), TextFns.tokens(col(textCol)).as("_toks"))
      .select(col("id"), col("_toks"),
        size(col("_toks")).cast("long").as("n"),
        array_join(col("_toks"), " ").as("c"))
    val eligible = canon.filter(col("n") >= anchorN)
    // anchor keys hashed to longs: a collision only creates a false
    // CANDIDATE, and every candidate passes the exact `contains` check
    // below — so unlike the Jaccard family this hashing is LOSSLESS
    val anchors = eligible.select(col("id").as("in_id"), col("n").as("in_n"),
      xxhash64(array_join(slice(col("_toks"), 1, anchorN), " ")).as("shingle"))
    val index0 = eligible.select(col("id").as("out_id"), col("n").as("out_n"),
        explode(TextFns.wordShingles(col("_toks"), anchorN)).as("_shs"))
      .select(col("out_id"), col("out_n"), xxhash64(col("_shs")).as("shingle"))
    val index = maxAnchorDf match {
      case Some(cap) =>
        val dfreq = index0.groupBy("shingle")
          .agg(count(lit(1)).as("_df")).filter(col("_df") <= cap)
        index0.join(dfreq.select("shingle"), Seq("shingle"))
      case None => index0
    }
    val cand = anchors.join(index, Seq("shingle"))
      .filter(col("in_id") =!= col("out_id") &&
        (col("out_n") > col("in_n") ||
          (col("out_n") === col("in_n") && col("in_id") < col("out_id"))))
      .select(col("in_id"), col("out_id")).distinct()
    cand
      .join(canon.select(col("id").as("in_id"), col("c").as("_in_c"),
        col("n").as("n_contained")), Seq("in_id"))
      .join(canon.select(col("id").as("out_id"), col("c").as("_out_c"),
        col("n").as("n_container")), Seq("out_id"))
      .filter(concat(lit(" "), col("_out_c"), lit(" "))
        .contains(concat(lit(" "), col("_in_c"), lit(" "))))
      .select(col("in_id").as("contained_id"), col("out_id").as("container_id"),
        col("n_contained"), col("n_container"))
  }

  /** Exact duplicated-span detection — the substring-level dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022), re-expressed as joins instead of a suffix
    * array: a span of L ≥ `gramN` tokens shared verbatim by two docs
    * yields L−gramN+1 positional `gramN`-gram matches on ONE diagonal
    * (p1−p2 constant), so maximal spans are maximal runs of consecutive
    * positions per (pair, diagonal) — the classic gapless-islands
    * window trick (pos − row_number is constant within a run).
    *
    * Output: one row per maximal span ≥ `minSpanTokens`:
    * (doc_a, doc_b, a_start, b_start, span_tokens), positions 1-based.
    *
    * Scale shape: the candidate generator is an inverted-index join
    * keyed on the gram with an occurrence-frequency cap
    * (`maxGramFreq`) — boilerplate grams that would fan out
    * quadratically are dropped BEFORE the join, the same stop-shingle
    * guard as [[ngramJaccardPairs]]; they cannot start a distinct long
    * span anyway without their rarer neighbors also matching. The
    * run-detection window partitions by (pair, diagonal) — bounded by
    * one shared span's length, never by corpus or document size. The
    * positional gram frame feeds both the frequency cap and the join,
    * so it persists through [[graft.Caching.persistTracked]].
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     gramN: Int = 5, minSpanTokens: Int = 8,
                     maxGramFreq: Int = 50): DataFrame = {
    require(gramN >= 2, s"gramN must be >= 2, got $gramN")
    require(minSpanTokens >= gramN,
      s"minSpanTokens $minSpanTokens must cover one $gramN-gram")
    // positional grams hashed to longs (the prefixJaccardPairs
    // rationale: fixed-width join/window keys, no string churn); the
    // span oracles replay plain-text positional joins, so a collision
    // on a verified corpus goes red
    val grams = graft.Caching.persistTracked(
      positionalGrams(docs, idCol, textCol, gramN))
    val capped = capByFreq(grams, grams, "gram", maxGramFreq)
    val matches = capped
      .select(col("gram"), col("id").as("doc_a"), col("pos").as("p1"))
      .join(capped.select(col("gram"), col("id").as("doc_b"), col("pos").as("p2")),
        Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("p1"), col("p2"),
        (col("p1") - col("p2")).as("_diag"))
    spansFromMatches(matches, gramN, minSpanTokens)
  }

  /** [[duplicateSpans]] for INGEST: spans between a new `batch` and the
    * standing `corpus` only — corpus×corpus pairs are never generated
    * (they were handled when those docs ingested), so the join cost is
    * |batch grams| × bucket, not |corpus|². The gram-frequency cap is
    * computed on the CORPUS side (the stable index a production
    * pipeline precomputes once per corpus version): boilerplate
    * detection must not depend on what today's batch happens to
    * contain. Output schema matches duplicateSpans with doc_a = corpus
    * doc, doc_b = batch doc.
    */
  def duplicateSpansAgainst(corpus: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String,
                            gramN: Int = 5, minSpanTokens: Int = 8,
                            maxGramFreq: Int = 50): DataFrame = {
    require(gramN >= 2, s"gramN must be >= 2, got $gramN")
    require(minSpanTokens >= gramN,
      s"minSpanTokens $minSpanTokens must cover one $gramN-gram")
    // hashed positional grams, matching [[duplicateSpans]] — both sides
    // share the hash so corpus×batch keys stay consistent
    def grams(df: DataFrame): DataFrame =
      positionalGrams(df, idCol, textCol, gramN)
    val cg = graft.Caching.persistTracked(grams(corpus))
    val matches = capByFreq(cg, cg, "gram", maxGramFreq)
      .select(col("gram"), col("id").as("doc_a"), col("pos").as("p1"))
      .join(grams(batch)
        .select(col("gram"), col("id").as("doc_b"), col("pos").as("p2")), Seq("gram"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("p1"), col("p2"),
        (col("p1") - col("p2")).as("_diag"))
    spansFromMatches(matches, gramN, minSpanTokens)
  }

  /** Intra-document repetition profile — the Gopher-class quality
    * signal [[graft.operators.TextPipeline.repetitionSignals]]'s gram
    * RATIOS cannot see: the length of the longest verbatim substring a
    * document repeats within ITSELF (copy-pasted paragraphs, looping
    * generation artifacts, boilerplate templates), via the same
    * positional-gram diagonal-islands trick as [[duplicateSpans]] but
    * self-joined per document: a substring of L ≥ `gramN` tokens
    * occurring at positions i and j of the SAME doc yields L−gramN+1
    * consecutive gram matches on diagonal j−i. Overlapping occurrences
    * (diag < gramN) are kept deliberately — a maximal island on a
    * small diagonal IS the period-detection signal for tandem repeats
    * ("a b a b a b…" shows up as one long island on diag 2).
    *
    * Output, one row per input document:
    * (id, n_tokens, max_gram_freq, max_rep_tokens, n_rep_spans,
    * rep_frac = max_rep_tokens / n_tokens). Docs shorter than `gramN`
    * tokens report all-zero signals.
    *
    * Scale shape: the self-join is keyed on (id, gram) — never wider
    * than one document — and `maxGramFreqInDoc` caps the per-doc pair
    * fanout at f·(f−1)/2 per gram. A gram repeated beyond the cap is
    * dropped from the span join, but such hyper-repetition cannot
    * hide: it is reported EXACTLY in `max_gram_freq` (computed before
    * the cap from the same keyed count), so the degenerate "same line
    * ×1000" doc is flagged by the cheap column instead of a quadratic
    * join. The positional gram frame feeds the per-doc counts, the cap
    * and the join, so it persists through
    * [[graft.Caching.persistTracked]].
    */
  def selfRepetitionProfile(docs: DataFrame, idCol: String, textCol: String,
                            gramN: Int = 5, minSpanTokens: Int = 8,
                            maxGramFreqInDoc: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gramN >= 2, s"gramN must be >= 2, got $gramN")
    require(minSpanTokens >= gramN,
      s"minSpanTokens $minSpanTokens must cover one $gramN-gram")
    // hashed positional grams (see [[duplicateSpans]]) — the self-join
    // and both windows key on fixed-width longs
    val grams = graft.Caching.persistTracked(
      positionalGrams(docs, idCol, textCol, gramN))
    val perGram = grams.groupBy(col("id"), col("gram"))
      .agg(count(lit(1)).as("_f"))
    val gramMax = perGram.groupBy(col("id"))
      .agg(max(col("_f")).as("max_gram_freq"))
    val capped = grams.join(
      perGram.filter(col("_f") <= maxGramFreqInDoc).select(col("id"), col("gram")),
      Seq("id", "gram"))
    val matches = capped.select(col("id"), col("gram"), col("pos").as("p1"))
      .join(capped.select(col("id"), col("gram"), col("pos").as("p2")),
        Seq("id", "gram"))
      .filter(col("p1") < col("p2"))
      .select(col("id"), col("p1"), (col("p2") - col("p1")).as("_diag"))
    val w = Window.partitionBy(col("id"), col("_diag")).orderBy(col("p1"))
    val spans = matches
      .withColumn("_runkey", col("p1") - row_number().over(w))
      .groupBy(col("id"), col("_diag"), col("_runkey"))
      .agg((count(lit(1)) + lit(gramN - 1).cast("long")).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
    val spanAgg = spans.groupBy(col("id"))
      .agg(max(col("span_tokens")).as("max_rep_tokens"),
        count(lit(1)).as("n_rep_spans"))
    docs.select(col(idCol).as("id"),
        size(TextFns.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(gramMax, Seq("id"), "left")
      .join(spanAgg, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("max_gram_freq"), lit(0L)).as("max_gram_freq"),
        coalesce(col("max_rep_tokens"), lit(0L)).as("max_rep_tokens"),
        coalesce(col("n_rep_spans"), lit(0L)).as("n_rep_spans"),
        when(col("n_tokens") > 0,
          coalesce(col("max_rep_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)).as("rep_frac"))
  }

  /** Per-document duplicated-token coverage — the curation gate built
    * on [[duplicateSpans]]: fraction of a doc's tokens covered by ≥1
    * exact duplicated span against ANY other doc (dup_frac = 1.0 marks
    * verbatim clones; mid-range marks template/boilerplate text). Span
    * intervals from both pair sides union per doc via the islands
    * window (new island when start exceeds the running max end) — all
    * integer positions, ONE IEEE division at the end, so the signal is
    * hash-verified (q_span_coverage).
    *
    * Scale: adds one doc-keyed window + two keyed aggs on the SPAN
    * table (rows ≈ duplicated regions, not corpus size) over
    * duplicateSpans' cost.
    */
  def spanCoverage(docs: DataFrame, idCol: String, textCol: String,
                   gramN: Int = 5, minSpanTokens: Int = 8,
                   maxGramFreq: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the span table feeds BOTH sides of the interval union — persist
    // (tracked) or the whole gram-join + islands pipeline runs twice
    val sp = graft.Caching.persistTracked(
      duplicateSpans(docs, idCol, textCol, gramN, minSpanTokens, maxGramFreq))
    // DISTINCT is load-bearing, not an optimization: duplicate (s, e)
    // intervals (same span shared with several partners) add nothing to
    // the union, and the islands running sum is order-sensitive between
    // TIED rows — an engine may sort the max(e) window and the sum
    // window independently, putting a new_isl=0 copy first and splitting
    // one island in two (caught by the sf0.001 sweep in DuckDB). After
    // distinct, (s, e) is a total order per doc.
    val iv = sp.select(col("doc_a").as("doc_id"), col("a_start").as("s"),
        (col("a_start") + col("span_tokens") - 1).as("e"))
      .unionAll(sp.select(col("doc_b").as("doc_id"), col("b_start").as("s"),
        (col("b_start") + col("span_tokens") - 1).as("e")))
      .distinct()
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val covered = iv
      .withColumn("_new",
        when(col("s") > coalesce(
          max(col("e")).over(byPos.rowsBetween(Window.unboundedPreceding, -1)),
          lit(-1L)), 1L).otherwise(0L))
      .withColumn("_island",
        sum(col("_new")).over(byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("_island"))
      .agg((max(col("e")) - min(col("s")) + 1).as("_ilen"))
      .groupBy(col("doc_id"))
      .agg(sum(col("_ilen")).as("dup_tokens"))
    val sizes = docs.select(col(idCol).as("doc_id"),
      size(TextFns.tokens(col(textCol))).cast("long").as("n_tokens"))
    covered.join(sizes, Seq("doc_id"))
      .select(col("doc_id"), col("dup_tokens"), col("n_tokens"),
        (col("dup_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("dup_frac"))
  }
}
