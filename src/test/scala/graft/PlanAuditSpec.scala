package graft

/** Plan-quality pins: the scale claims in the scaladocs are assertions
  * about physical plans — hold them in CI so a refactor that silently
  * loses pushdown / broadcast / group-limit shows up as a red test, not
  * a 100× regression in production.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  test("q1_agg: filter reaches the parquet scan, columns pruned") {
    val p = planOf("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "scan reads columns the query never uses")
  }

  test("BillingReader: both dialects parse with no lambda and no interpreted fallback") {
    // lambdas (transform/filter) evaluate interpreted, and any non-leaf
    // CodegenFallback keeps its whole projection out of whole-stage
    // codegen (CollapseCodegenStages)
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, LeafExpression}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import graft.sources.BillingReader
    val path = fixtureFile("billing.txt", "2015-1-3,15 pane,12 uova\n")
    for ((name, df) <- Seq("dialectA" -> BillingReader.dialectA(spark, path),
                           "dialectB" -> BillingReader.dialectB(spark, path))) {
      val plan = df.queryExecution.optimizedPlan
      val exprs = plan.flatMap(_.expressions).flatMap(_.collect { case e => e })
      assert(!exprs.exists(_.isInstanceOf[LambdaFunction]), s"$name parses through a lambda:\n$plan")
      val fallbacks = exprs.filter(e => e.isInstanceOf[CodegenFallback] && !e.isInstanceOf[LeafExpression])
      assert(fallbacks.isEmpty, s"$name parse leaves whole-stage codegen: $fallbacks\n$plan")
    }
  }

  test("q_top5_month: native two-phase heap top-k, no sorts after the agg") {
    // adopted over window/WindowGroupLimit on measured wins (SURVEY.md
    // §8 addendum — round 4: sf0.1 steady 1.32→0.96 s; RefScaleBench 1M
    // lines 1.10→0.82 s)
    val p = planOf("q_top5_month")
    assert(p.contains("TopKPerKeyExec(partial"), p)
    assert(p.contains("TopKPerKeyExec(final"), p)
    assert(!p.contains("Sort "), s"heap top-k must not sort:\n$p")
  }

  test("kmeans/semdedup assignment: local-mode heap, no per-vector shuffle") {
    // the cell-assignment shape (cross join against broadcast centroids,
    // grouped by the stream row id) runs the heap exchange-free in
    // localGroups mode — a corpus-wide shuffle carrying full vectors
    // otherwise, ×2 in the two-round fit
    for (q <- Seq("q_kmeans_step", "q_kmeans_fit", "q_semdedup")) {
      val p = planOf(q)
      assert(p.contains("TopKPerKeyExec(local"), s"$q lost local-mode assignment:\n$p")
      assert(!p.contains("TopKPerKeyExec(final"),
        s"$q re-grew a two-phase heap (per-vector shuffle):\n$p")
    }
  }

  test("q_sample_pps: one window exchange serves both the cumulative and total sums") {
    val p = planOf("q_sample_pps")
    // the ordered cum-sum and the stratum total must share the
    // partitionBy(source) exchange — two Window nodes, no extra shuffle
    assert("Exchange hashpartitioning\\(source".r.findAllIn(p).size == 1,
      s"PPS windows no longer share one stratum exchange:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_curate_e2e: chain fuses to the scan + one budget-window exchange") {
    // scrub/gate/lang are per-row — everything before the per-source
    // token budget must fuse map-side, the lang filter reaching the
    // parquet scan; exactly ONE exchange (the window's partitionBy)
    val p = planOf("q_curate_e2e")
    assert(p.contains("PushedFilters: [In(lang, [de,en])"),
      s"lang keep no longer reaches the scan:\n$p")
    // count SHUFFLE exchanges specifically — "Exchange " would also
    // match a benign future BroadcastExchange (ADVICE r12) — but keep
    // rangepartitioning in scope: a global sort is a real second
    // shuffle of the full corpus (r13 review), and SinglePartition in
    // scope too: a global agg / partitionBy-less window funnels the
    // corpus through one task (ADVICE r13); the assertion's intent is
    // "the budget window is the only shuffle"
    assert("Exchange (hash|range)partitioning|Exchange SinglePartition".r
             .findAllIn(p).size == 1,
      s"curation chain grew a second shuffle:\n$p")
    assert("Window ".r.findAllIn(p).size == 1, p)
  }

  test("rrfFuse: per-query keyed fusion, no singleton funnel, no cartesian") {
    import org.apache.spark.sql.functions._
    // the scale shape: millions of (query, doc) keyed top-k rows per
    // arm — fusion must stay a keyed join (one hash exchange per arm),
    // never a global funnel or a nested-loop
    val ev = Tables.events(spark, sf001)
      .select(col("user_id").as("query_id"), col("event_id").as("doc_id"))
    val a = ev.withColumn("r", lit(1L))
    val b = ev.withColumn("r", lit(2L))
    val p = graft.operators.Retrieval
      .rrfFuse(Seq(a, b), Seq("query_id", "doc_id"), "r")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(query_id".r.findAllIn(p).size == 2,
      s"fusion join no longer keyed by (query, doc):\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"global funnel:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"fusion fell off the keyed join:\n$p")
  }

  test("q_contrastive_negs: corpus count broadcasts; the draw is one keyed join") {
    val p = planOf("q_contrastive_negs")
    assert(p.contains("BroadcastExchange"), s"corpus count must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"negative draw must stay a keyed rank join:\n$p")
  }

  test("media codec path: per-row batch seam, no shuffle anywhere") {
    for (q <- Seq("q_media_headers", "q_media_decode", "q_media_audio",
                  "q_media_features", "q_media_resize")) {
      val p = planOf(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q grew a shuffle — synth/parse/decode are per-row stages:\n$p")
    }
  }

  test("q_join_broadcast: both dims broadcast, no shuffle join") {
    val p = planOf("q_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_topn_global: TakeOrderedAndProject, no global sort") {
    val p = planOf("q_topn_global")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Sort ["), "global sort planned for a limit-10 query")
  }

  test("q_tpch_q3: date filters pushed, top-10 is TakeOrderedAndProject") {
    val p = planOf("q_tpch_q3")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate") ||
      p.contains("LessThan(o_orderdate"), "order-date filter not pushed to scan")
    assert(p.contains("GreaterThan(l_shipdate"), "ship-date filter not pushed to scan")
  }

  test("q_tpch_q18: lineitem aggregates below the joins; top-100 has no global sort") {
    val p = planOf("q_tpch_q18")
    assert(p.contains("TakeOrderedAndProject"))
    // the quantity HAVING must run BELOW the joins: plan strings print
    // parents first, so the aggregate's first occurrence must come
    // after the first join operator (above-join aggregation would put
    // a HashAggregate before every join line)
    val aggIdx = p.indexOf("HashAggregate")
    val joinIdx = Seq(p.indexOf("SortMergeJoin"), p.indexOf("BroadcastHashJoin"))
      .filter(_ >= 0).minOption.getOrElse(-1)
    assert(aggIdx >= 0 && joinIdx >= 0)
    assert(aggIdx > joinIdx,
      s"quantity aggregate is not below the joins (agg@$aggIdx join@$joinIdx)")
    assert(p.contains("total_qty"), "pre-join quantity aggregate missing")
  }

  test("q_filter_project: predicates pushed to parquet") {
    val p = planOf("q_filter_project")
    // plan toString truncates long PushedFilters lists — assert on the
    // quantity predicate (fully printed) and the shipdate DataFilter
    assert(p.contains("GreaterThanOrEqual(l_quantity,45.0)"))
    assert(p.contains("DataFilters: [isnotnull(l_quantity"))
    assert(p.contains("(l_shipdate"))
  }

  test("q_topk_native: partial heap below the key exchange, final above, no sorts") {
    val p = planOf("q_topk_native")
    assert(p.contains("TopKPerKeyExec(partial"), p)
    assert(p.contains("TopKPerKeyExec(final"), p)
    val ex = p.indexOf("Exchange hashpartitioning(o_custkey")
    assert(ex >= 0, "key exchange missing")
    assert(p.indexOf("TopKPerKeyExec(final") < ex && ex < p.indexOf("TopKPerKeyExec(partial"),
      "phases not split across the exchange")
    assert(!p.contains("Sort "), s"native top-k must not sort:\n$p")
  }

  test("q_decontaminate: eval shingle set broadcasts; training side never shuffles pre-join") {
    val p = planOf("q_decontaminate")
    // the matched triples are cached (one materialization serves both
    // stacked aggs); the cached subtree — printed last, under the final
    // InMemoryRelation — must hold the broadcast join with no shuffle
    // exchange below it (the training scan feeds the join directly)
    val cached = p.substring(p.lastIndexOf("InMemoryRelation"))
    assert(cached.contains("BroadcastHashJoin"), p)
    assert(!cached.contains("Exchange hashpartitioning"),
      s"training side shuffled before the contamination join:\n$p")
    assert(!p.contains("Expand"), s"multi-distinct Expand reappeared:\n$p")
    Caching.release()
  }

  test("q_decontaminate_bloom: bloom prefilter kept, stacked aggs keep the plan Expand-free") {
    // two countDistinct in one agg would plan an Expand doubling every
    // matched shingle row through the shuffle — in the operator whose
    // whole purpose is shuffle-volume reduction
    val p = planOf("q_decontaminate_bloom")
    assert(p.contains("might_contain"), s"bloom prefilter lost:\n$p")
    assert(!p.contains("Expand"), s"multi-distinct Expand reappeared:\n$p")
    Caching.release()
  }

  test("q_passage_dedup: occurrence counts via partial agg, never a window on the passage key") {
    val p = planOf("q_passage_dedup")
    assert(p.contains("partial_count"), "occurrence count lost its map-side combine")
    assert(!p.contains("Window "), s"hot passage key planned as a window:\n$p")
  }

  test("q_tfidf: df from cached tf via map-side combine, never a window on the term key") {
    val p = planOf("q_tfidf")
    // a window's partitioner pins every posting of a stopword term on
    // one task; the hash aggregate reduces hot keys map-side instead
    assert(!p.contains("Window "), s"df planned as a window over the raw term key:\n$p")
    // tf must be read from cache on BOTH sides of the df join — two
    // InMemoryTableScans prove the corpus was scanned+tokenized once
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"tf not reused from cache — corpus tokenized twice:\n$p")
  }

  test("q_sample_stratified and q_resample_mix stay single narrow stages") {
    for (q <- Seq("q_sample_stratified", "q_resample_mix")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q acquired a shuffle:\n$p")
      // the "*(n)" operator prefix marks whole-stage-codegen membership
      assert(p.contains("*(1)"), s"$q fell out of codegen:\n$p")
    }
  }

  test("q_sorted_neighborhood: two-level-scan rank, banded self-join, no data-wide window") {
    val p = planOf("q_sorted_neighborhood")
    // the global (key, id) rank costs ONE range exchange; offsets broadcast
    assert("Exchange rangepartitioning".r.findAllIn(p).size >= 1, p)
    assert(p.contains("BroadcastExchange"),
      s"partition offsets must broadcast:\n$p")
    // the single-partition window may only ride the #partitions-row
    // totals agg (the SeqPack contract) — never the ranked data itself
    val winIdx = p.indexOf("Window ")
    assert(winIdx >= 0 && p.indexOf("HashAggregate", winIdx) >= 0,
      s"global window must ride the totals agg:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    Caching.release()
  }

  test("q_rag_chunks: sliding windows are one narrow explode — zero exchanges") {
    val p = planOf("q_rag_chunks")
    assert(!p.contains("Exchange"), s"sliding chunking acquired a shuffle:\n$p")
  }

  test("q_ann_recall: ground truth broadcast into the hit count, queries never collected") {
    val p = planOf("q_ann_recall")
    // the per-query hit count and the recall-0 left join are keyed or
    // broadcast joins — a CollectLimit/cartesian here would mean the
    // eval harness stops scaling with the query count
    assert(!p.contains("CartesianProduct"), s"recall eval went cartesian:\n$p")
  }

  test("q_quality_classifier: literal-array weight lookup, no weights-table join") {
    val p = planOf("q_quality_classifier")
    // the 256-entry fixed-point weight vector ships inside the plan as
    // a literal element_at — ONE keyed agg (+ the totality left join),
    // never a join against a broadcast/shuffled weights relation, and
    // the whole dot product stays in codegen
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("element_at"), s"weight lookup left the plan:\n$p")
    assert("Scan parquet".r.findAllIn(p).size <= 2,
      s"classifier should scan documents for tokens + ids only:\n$p")
  }

  test("q_incremental_lsh: keyed band join only — no all-pairs product anywhere") {
    val p = planOf("q_incremental_lsh")
    assert(!p.contains("CartesianProduct"), s"all-pairs product in the incremental path:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"non-equi join in the incremental path:\n$p")
    assert(p.contains("band_hash"), "band join key lost")
    Caching.release()
  }

  test("q_ann_lsh_mp: probe fanout lands on the query side only") {
    val p = planOf("q_ann_lsh_mp")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // exactly 3 generators: corpus posexplode (tables×), query
    // posexplode (tables×) + probe explode (1+probes per table) — a
    // 4th would mean the corpus side acquired the probe fanout
    assert("Generate ".r.findAllIn(p).size == 3,
      s"probe expansion leaked off the query side:\n$p")
  }

  test("q_dup_spans: keyed gram join only; run detection windows on (pair, diagonal)") {
    val p = planOf("q_dup_spans")
    assert(!p.contains("CartesianProduct"), s"all-pairs product in the span path:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"non-equi join in the span path:\n$p")
    // the islands window must be keyed — a global window would serialize
    // the whole match set through one task
    assert(p.contains("windowspecdefinition(doc_a"), s"run window lost its keys:\n$p")
    // the positional gram frame is cached once and feeds cap + join
    assert(p.contains("InMemoryTableScan"), s"gram frame not shared:\n$p")
    Caching.release()
  }

  test("q_ann_ivfpq: cell-keyed candidate join, native heap shortlist, no all-pairs scan") {
    val p = planOf("q_ann_ivfpq")
    assert(!p.contains("CartesianProduct"), s"all-pairs product in IVFADC:\n$p")
    assert(p.contains("TopKPerKeyExec"), s"native heap top-k lost:\n$p")
    // candidates come from an equi-join on the coarse cell
    assert(p.contains("BroadcastHashJoin [cell") || p.contains("[cell#"),
      s"cell-keyed candidate join lost:\n$p")
  }

  test("q_pq_encode: pure narrow projection — zero exchanges, zero joins") {
    // PQ encode is 64 literal-centroid dot products per row; at 100 TB
    // the whole pass must stay embarrassingly parallel (no shuffle, no
    // broadcast build) — any Exchange here is a lost design property
    val p = planOf("q_pq_encode")
    assert(!p.contains("Exchange"), s"PQ encode acquired a shuffle:\n$p")
    assert(!p.contains("Join"), s"PQ encode acquired a join:\n$p")
  }

  test("q_tpch_q21: stacked aggs, never a multi-distinct Expand over the fact join") {
    // the multi-countDistinct formulation plans an Expand (3× the
    // lineitem⋈orders rows through the shuffle); the stacked
    // (order,supplier)→order agg pair must keep the plan Expand-free
    val p = planOf("q_tpch_q21")
    assert(!p.contains("Expand"), s"multi-distinct Expand reappeared:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "stacked aggregate shape lost")
  }

  test("q_tpch_q19: the OR-of-ANDs disjunction derives per-side pushed filters on BOTH scans") {
    // Catalyst must derive each side's OR-hull (quantity bands on the
    // lineitem scan, brand/size bands on the part scan) — losing this
    // means full scans feeding the join at 100 TB
    val p = planOf("q_tpch_q19")
    val scans = p.split("FileScan").drop(1)
    val li = scans.find(_.contains("lineitem")).get
    val pt = scans.find(_.contains("part")).get
    assert(li.contains("PushedFilters: [IsNotNull(l_partkey), Or("),
      s"lineitem scan lost the derived quantity disjunction:\n$li")
    assert(pt.contains("Or(") && pt.contains("p_brand"),
      s"part scan lost the derived brand/size disjunction:\n$pt")
  }

  test("q_tpch_q15: one lineitem aggregation feeds both the max and the join (cached view)") {
    val p = planOf("q_tpch_q15")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"revenue view not shared — fact table re-aggregated:\n$p")
    Caching.release()
  }

  test("q_tpch_q13: the priority filter stays in the LEFT OUTER join (zero-order customers kept)") {
    val p = planOf("q_tpch_q13")
    assert(p.contains("LeftOuter"), s"left join lost:\n$p")
  }

  test("q_bloom_semi_join: bloom probe filters the fact scan BELOW the semi join") {
    val p = planOf("q_bloom_semi_join")
    val probeAt = p.toLowerCase.indexOf("might_contain")
    val joinAt = p.indexOf("Join")
    assert(probeAt >= 0, s"bloom probe missing:\n$p")
    assert(joinAt >= 0 && probeAt > joinAt, s"probe not below the join:\n$p")
  }

  test("q_semdedup: centroid frame broadcasts; candidate join is cell-keyed, never a corpus cross product") {
    val p = planOf("q_semdedup")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroids must broadcast")
    // the only cross/nested-loop joins allowed are against the 16-row
    // centroid frame; the id×id candidate join must be keyed
    assert(!p.contains("CartesianProduct"), s"corpus cross product:\n$p")
    Caching.release()
  }

  test("q_ann_brute: native heap top-k; rank window sorts only the survivors above the final phase") {
    val p = planOf("q_ann_brute")
    assert(p.contains("TopKPerKeyExec(partial"), p)
    assert(p.contains("TopKPerKeyExec(final"), p)
    assert(p.contains("Window "), "rank column lost")
    // exactly one hash exchange: the window must reuse the final
    // phase's partitioning, not add its own
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"rank window added a second exchange:\n$p")
  }

  test("q_prefix_jaccard: shingle-keyed candidate join only; prefix window keyed per doc") {
    val p = planOf("q_prefix_jaccard")
    assert(!p.contains("CartesianProduct"), s"all-pairs product in the prefix path:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"non-equi join in the prefix path:\n$p")
    // the prefix-selection window partitions by doc, never globally
    assert(p.contains("windowspecdefinition(id#"), s"prefix window lost its key:\n$p")
    // the distinct (id, shingle) frame is cached once and feeds df,
    // sizes, the prefix window and both verification joins
    assert(p.contains("InMemoryTableScan"), s"shingle frame not shared:\n$p")
    Caching.release()
  }

  test("q_self_repetition: per-doc keyed self-join; islands window on (doc, diagonal)") {
    val p = planOf("q_self_repetition")
    assert(!p.contains("CartesianProduct"), s"all-pairs product in the repetition path:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$p")
    assert(p.contains("windowspecdefinition(id#"), s"islands window lost its keys:\n$p")
    assert(p.contains("InMemoryTableScan"), s"gram frame not shared:\n$p")
    Caching.release()
  }

  test("q_cms_freq: counter table broadcast to the estimate join; map-side combine in the build") {
    val p = planOf("q_cms_freq")
    assert(p.contains("BroadcastHashJoin"), s"counter table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"all-pairs product:\n$p")
    // the build's partial aggregate combines to ≤ d·w rows per task
    // BEFORE the exchange — the constant-state contract
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"sketch build lost its map-side combine:\n$p")
  }

  test("q_hll_card: register build is one two-level keyed agg, no Expand") {
    val p = planOf("q_hll_card")
    assert(!p.contains("Expand"), s"multi-distinct Expand crept into the sketch path:\n$p")
    assert(p.contains("partial_max"), s"register max lost its map-side combine:\n$p")
  }

  test("q_kmv_overlap: one native-heap sketch build, shared by all four consumers") {
    // tree walk, not string match: InMemoryTableScan REPRINTS the cached
    // build at every scan site, so string-counting TopKPerKeyExec
    // overcounts; plan.collect does not descend into the cache
    val exec = SparkEntry.queries("q_kmv_overlap")(spark, sf001)
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val all = nodes(exec)
    val scans = all.collect { case s: InMemoryTableScanExec => s }
    assert(scans.size >= 4, s"sketch cache not shared by all consumers:\n$exec")
    assert(all.collect { case t: graft.plans.TopKPerKeyExec => t }.isEmpty,
      s"heap selection re-planned outside the cached sketch:\n$exec")
    assert(scans.head.relation.cachedPlan.toString.contains("TopKPerKeyExec"),
      "cached sketch build lost the native heap")
    Caching.release()
  }

  test("q_ann_ingest: code-table scan + broadcast batch LUTs; exact rerank only via keyed joins") {
    val p = planOf("q_ann_ingest")
    assert(p.contains("TopKPerKeyExec"), s"native heap shortlist lost:\n$p")
    // the ADC scan is codes × broadcast query LUTs (inequality join →
    // BroadcastNestedLoopJoin is EXPECTED here and bounded by |batch|);
    // what must never appear is a partitioned cartesian product
    assert(!p.contains("CartesianProduct"), s"partitioned all-pairs product:\n$p")
    // the rerank fetches vectors through keyed equi-joins
    assert(p.contains("Join") && p.contains("neighbor_id"),
      s"keyed rerank fetch lost:\n$p")
  }

  test("q_tpch_q2/q11: dims broadcast onto the synthesized partsupp, no cartesian fact product") {
    for (q <- Seq("q_tpch_q2", "q_tpch_q11")) {
      val p = planOf(q)
      assert(p.contains("BroadcastExchange"),
        s"$q: supplier/nation/region dims must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q: partsupp may never cross-product a non-scalar side:\n$p")
      assert(!p.contains("SortMergeJoin") ||
             "Exchange hashpartitioning\\(ps_partkey".r.findFirstIn(p).isDefined ||
             !p.contains("Exchange hashpartitioning"),
        s"$q: any shuffle join must be partkey-keyed:\n$p")
      Caching.release()
    }
  }

  test("q_pack_global: two-level scan — one range exchange, offsets broadcast, window only on the tiny frame") {
    val p = planOf("q_pack_global")
    // the only full-data exchange is the range repartition the global
    // order requires; its result is cached and shared by both consumers
    assert("Exchange rangepartitioning".r.findAllIn(p).size >= 1, p)
    assert(p.contains("BroadcastExchange"),
      s"partition offsets must broadcast, never shuffle the data side:\n$p")
    // the single-partition window is the POINT here, but it may only sit
    // above the #partitions-row totals agg — never above a raw scan
    val winIdx = p.indexOf("Window ")
    assert(winIdx >= 0 && p.indexOf("HashAggregate", winIdx) >= 0,
      s"global window must ride the per-partition totals agg:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    Caching.release()
  }

  test("q_tpch_q9/q20: the partsupp pair dim broadcasts into the fact, no cartesian") {
    for (q <- Seq("q_tpch_q9", "q_tpch_q20")) {
      val p = planOf(q)
      assert(p.contains("BroadcastExchange"),
        s"$q: the ps⋈part frame (4×|part| rows) must broadcast, never shuffle the fact:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: no cross product anywhere:\n$p")
      Caching.release()
    }
  }

  test("q_prefix_jaccard_capped: cap keeps the shingle-keyed shape (no product, keyed window)") {
    val p = planOf("q_prefix_jaccard_capped")
    assert(!p.contains("CartesianProduct"), s"all-pairs product in the capped prefix path:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"non-equi join in the capped prefix path:\n$p")
    assert(p.contains("windowspecdefinition(id#"), s"prefix window lost its key:\n$p")
    Caching.release()
  }

  test("dedupIngest rank-1 filter pushes BELOW both anti-joins (flat and hier tiers)") {
    // dedupIngest = dedupIngestProbed().filter(rank === 1) since r15
    // (66f26fb): the scaladoc argues Catalyst pushes the filter below
    // the two id-keyed anti-joins so single-rank callers' plans are
    // unchanged — this pin holds that against a silent Catalyst
    // regression (a non-deterministic-marked column would double the
    // anti-join input). In tree print order a parent precedes its
    // subtree, so the pushed filter's FIRST occurrence must come after
    // the LAST LeftAnti — an unpushed filter would sit at the root,
    // printed before both.
    for (q <- Seq("q_semdedup_ingest", "q_semdedup_ingest_hier")) {
      val p = planOf(q)
      val antis = "LeftAnti".r.findAllMatchIn(p).map(_.start).toSeq
      assert(antis.size >= 2, s"$q lost its two anti-joins:\n$p")
      val rankFilter = """Filter \(?rank#\d+L? = 1\)?""".r.findFirstMatchIn(p)
      assert(rankFilter.isDefined, s"$q: rank-1 filter missing from the plan:\n$p")
      assert(rankFilter.get.start > antis.max,
        s"$q: rank-1 filter sits ABOVE an anti-join — the pushdown " +
          s"regressed and both edge streams now read 2x rows:\n$p")
      Caching.release()
    }
  }
}
