package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Codifies the PLANS.md scale claims as assertions on the physical
  * plans, so a regression in pushdown / pruning / join shape fails the
  * suite instead of only showing up in a 100x deployment.
  */
class PlanAssertionsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString()

  test("q_pricing_summary: filter pushed into the scan, columns pruned") {
    val p = plan("q_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    // 7 of 16 lineitem columns read
    val scanCols = p.split("FileScan parquet \\[", 2)(1).split("]", 2)(0)
    assert(scanCols.split(",").length == 7, scanCols)
    assert(!scanCols.contains("l_comment"), scanCols)
  }

  test("q_nation_revenue: bounded dims broadcast, no cartesian product") {
    val p = plan("q_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the broadcast() hints live only on nation/region; supplier must
    // reach the join bare so the planner can shuffle it at scale
    val optimized = SparkEntry.queries("q_nation_revenue")(spark, sf)
      .queryExecution.optimizedPlan.toString()
    val hinted = optimized.linesIterator
      .filter(_.contains("ResolvedHint")).mkString("\n")
    assert(!hinted.contains("supplier"), optimized)
  }

  test("q_topk_operator: partial/final bounded-heap pair around one exchange") {
    val p = plan("q_topk_operator")
    assert(p.contains("TopKPerKeyPartial"), p)
    assert(p.contains("TopKPerKeyFinal"), p)
  }

  test("q_neardup_jaccard: length bucket is an equi-join key, not a filter") {
    val p = plan("q_neardup_jaccard")
    // the join's key expressions include the exploded bucket column
    val joinLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("bkt"))
    assert(joinLine.isDefined, p)
  }

  test("q_ann_cosine_topk: corpus side is never shuffled before ranking") {
    val p = plan("q_ann_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q_click_attribution: interval join keys on user_id equality") {
    val p = plan("q_click_attribution")
    // the time bounds must be a residual of an EQUI join, never the
    // whole condition of a nested-loop plan
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q_doc_chunks: chunking is a narrow pass (no exchange before sort)") {
    val df = SparkEntry.queries("q_doc_chunks")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    // exactly the one exchange the final orderBy needs — explode adds none
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, p)
    assert(p.contains("Generate explode"), p)
  }

  test("q_train_shards: position window partitions by shard (no global sort rank)") {
    val p = plan("q_train_shards")
    // the row_number window must carry a partition spec — a global
    // (unpartitioned) window would funnel the table through one task
    val windowLine = p.linesIterator.find(_.contains("row_number()"))
    assert(windowLine.isDefined, p)
    assert(windowLine.get.contains("partitionBy") ||
      windowLine.get.contains("windowspecdefinition(shard"), windowLine.get)
  }

  test("q_sequence_packing: prefix sum windows by shard (no global funnel)") {
    val p = plan("q_sequence_packing")
    val windowLine = p.linesIterator.find(_.contains("windowspecdefinition"))
    assert(windowLine.isDefined, p)
    // the running sum must partition by shard — an unpartitioned frame
    // would stream the whole corpus through one task
    assert(windowLine.get.contains("windowspecdefinition(shard"), windowLine.get)
  }

  test("q_domain_mix: thresholds broadcast, corpus side never shuffled") {
    val p = plan("q_domain_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_tfidf_keywords: df and doc count broadcast back onto tf") {
    val p = plan("q_tfidf_keywords")
    // both enrichment joins (df per term, scalar doc count) broadcast;
    // a shuffle join here would re-partition the tf table twice
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 1, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // the 1-row count
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_snapshot_delta: admission is a hash anti-join on the ledger") {
    val p = plan("q_snapshot_delta")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_tokenizer_pairs: global top-20 plans as TakeOrdered, no full sort") {
    val p = plan("q_tokenizer_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only wide operator is the pair-count aggregation: exactly
    // one exchange (plus none for the limit)
    assert(p.linesIterator.count(_.contains("Exchange")) === 1, p)
  }

  test("q_repeated_passages: shared-window detection aggregates, never pairs") {
    val p = plan("q_repeated_passages")
    // sharing = min(doc_id) != max(doc_id) per window — an aggregation,
    // NOT a window self-join that would square the gram table
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), p)
    val optimized = SparkEntry.queries("q_repeated_passages")(spark, sf)
      .queryExecution.optimizedPlan.toString()
    assert(optimized.contains("min(doc_id") && optimized.contains("max(doc_id"),
      optimized)
  }

  test("q_weighted_sample: narrow key + global top-k, zero shuffles") {
    val p = plan("q_weighted_sample")
    // the sample key is one narrow expression (array_min over a <=4
    // element transform — no ticket explode) and the k-smallest-keys
    // draw plans as TakeOrdered: per-partition heap, k rows to the
    // driver, the corpus never shuffles
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p)
    assert(!p.toLowerCase.contains("generate"), p) // no explode
  }

  test("q_heavy_hitters: verify pass filters to candidates before the shuffle") {
    val df = SparkEntry.queries("q_heavy_hitters")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    // the candidate membership filter (IN/INSET over the sketch's
    // tokens) must sit BELOW the count aggregation's exchange — the
    // tree prints top-down, so its offset must be greater: only <=k
    // distinct tokens may reach the shuffle
    val inIdx = Seq(p.indexOf(" INSET "), p.indexOf(" IN (")).filter(_ >= 0)
    assert(inIdx.nonEmpty, p)
    val exIdx = p.indexOf("Exchange")
    assert(exIdx >= 0, p)
    assert(inIdx.max > exIdx,
      s"candidate filter above the exchange:\n$p")
  }

  test("q_hybrid_rrf: both legs are distributed top-k, fusion has no cartesian") {
    val p = plan("q_hybrid_rrf")
    // each leg ends in TakeOrderedAndProject (distributed heap top-k,
    // no global sort of the corpus) — two of them, one per retriever
    val takes = "TakeOrderedAndProject".r.findAllIn(p).length
    assert(takes >= 2, s"expected 2 TakeOrdered legs:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the semantic leg's 1-row query side must broadcast
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q_drift_chi2: events scanned once, grid works off the checkpointed cells") {
    val p = plan("q_drift_chi2")
    // the events table is read exactly once, at cell materialization
    // (the localCheckpoint cut) — the final plan re-reads only the
    // ~types×2 checkpointed frame, never the parquet
    assert(!p.contains("FileScan parquet"),
      s"events re-scanned past the cell checkpoint:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"), p)
  }

  test("q_ema_decay: one hash exchange, a streamed fold, no join") {
    val p = plan("q_ema_decay")
    // exactly one HASH exchange moves data (the per-user repartition;
    // the trailing rangepartitioning exchange is the output-order
    // contract)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx === 1, s"expected exactly one hash exchange:\n$p")
    // the fold streams each sorted partition: no per-user array
    assert(p.contains("MapPartitions"), p)
    assert(!p.contains("collect_list"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_char_diversity: narrow per-row kernel — one scan, no join, no hash exchange") {
    val p = plan("q_char_diversity")
    assert("Scan parquet".r.findAllIn(p).length === 1, p)
    assert(!p.contains("Join"), p)
    // only the output-order range exchange; no data reshuffle
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_sweepline_concurrency: fact scanned once; prefix window over the aggregated days") {
    val p = plan("q_sweepline_concurrency")
    // one lineitem + one orders scan — the explode produces both
    // endpoint events from a single pass (a union formulation scanned
    // the join twice)
    assert("Scan parquet".r.findAllIn(p).length === 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // the sequential step is the ONLY single-partition exchange and it
    // consumes the per-day aggregate (map-side partials underneath),
    // never the raw event stream
    assert("Exchange SinglePartition".r.findAllIn(p).length === 1, p)
    val idxWin = p.indexOf("Window")
    val idxAgg = p.indexOf("HashAggregate")
    assert(idxWin >= 0 && idxAgg > idxWin,
      s"window must sit above the daily rollup:\n$p")
  }

  test("q_corr_matrix: all 15 moments from one scan, one aggregation, no join") {
    val p = plan("q_corr_matrix")
    assert("Scan parquet".r.findAllIn(p).length === 1, p)
    assert(!p.contains("Join"), p)
    // partial aggregation combines the moments map-side
    assert("HashAggregate".r.findAllIn(p).length === 2, p)
  }

  test("q_ngram_novelty: gram stream built once and reused from cache") {
    val p = plan("q_ngram_novelty")
    // both consumers (first-occurrence chain + per-doc totals) read
    // the persisted shingle-set frame instead of re-shingling
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_countmin_heavy: probe coordinates hash-join the broadcast cells") {
    val p = plan("q_countmin_heavy")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_hll_distinct: register/exact joins are equi, no cartesian") {
    val p = plan("q_hll_distinct")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_joinsize_sketch: cell tables equi-join; only 1-row frames cross") {
    val p = plan("q_joinsize_sketch")
    // the single-row exact × est combine is the only nested-loop; the
    // cell inner product must be an equi hash join
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_ann_matryoshka: corpus never shuffled before either ranking") {
    val p = plan("q_ann_matryoshka")
    // both score streams join broadcast queries against the corpus
    // scan (non-equi ⇒ nested-loop over the broadcast side is the
    // scale-correct shape, as in q_ann_cosine_topk)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_quality_calibration: scored frame built once; boundaries broadcast") {
    val p = plan("q_quality_calibration")
    // the 4-boundary percentile row re-attaches as a broadcast, and
    // both consumers (boundary agg + binning) read the persisted
    // scored frame — the text is scanned and token-scored ONCE
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_holt_linear: dims broadcast onto the orders scan, no sort-merge") {
    val p = plan("q_holt_linear")
    // customer and nation are 1:1 bounded dims — both must broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).length === 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the fold is an expression over the collected series — one scan
    assert("FileScan parquet".r.findAllIn(p).length === 3, p) // orders + 2 dims
  }

  test("q_lm_surprisal: bigram stream built once, LM joined, no cartesian") {
    val p = plan("q_lm_surprisal")
    // the persisted stream feeds BOTH the LM counts and the scoring
    // join — both consumers read the cache (the FileScan text under
    // each InMemoryRelation is the cached plan's rendering, not a
    // second scan)
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_label_prop: label frames broadcast every round, edges cached, no window") {
    val p = plan("q_label_prop")
    // 3 vote rounds join the node-sized label frame as broadcast; the
    // edge build's own join is the 4th broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4, p)
    assert(!p.contains("SortMergeJoin"), p)
    // argmax is the struct-max AGGREGATE — a per-dst rank window
    // would sort-shuffle each round's vote frame
    assert(!p.contains("Window"), p)
    assert(p.contains("InMemoryTableScan"), p) // cached edge frame
  }

  test("q_exact_median: pinned-RDD ranks, no row_number, no global funnel") {
    val df = SparkEntry.queries("q_exact_median")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // ranks ride ExactRank's pinned-RDD two-job fold: the range sort
    // lives inside the RDD lineage, the Catalyst plan above it is a
    // codegen'd filter over the ExistingRDD scan — never a
    // single-partition re-exchange of the frame, never a window
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("row_number"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_rolling_wau: 2 corpus exchanges + keyed lead, day frame broadcasts") {
    val p = plan("q_rolling_wau")
    assert(!p.contains("CartesianProduct"), p)
    // the interval derivation's lead window must partition by key — a
    // global lead would funnel every (key, day) pair through one task
    val leadLine = p.linesIterator.find(_.contains("lead(day"))
    assert(leadLine.isDefined, p)
    assert(leadLine.get.contains("windowspecdefinition(k#"), leadLine.get)
    // exchange census: pairs distinct + lead repartition (the two
    // corpus-sized ones) + the day-sized rollup + the 1-row span agg;
    // the daily frame reaches the spine as a BROADCAST, never a shuffle
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("BroadcastExchange") &&
        !l.contains("ReusedExchange"))
    assert(shuffles == 4, s"expected 4 shuffle exchanges, got $shuffles\n$p")
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q_target_encoding: the fact stream never shuffles (both rollups broadcast back)") {
    val p = plan("q_target_encoding")
    // two broadcast probes (category rollup + 1-row total) onto the
    // unshuffled orders scan; the only shuffle exchanges are the two
    // rollups' own partial-agg exchanges and the output ordering
    val bcasts = p.linesIterator.count(_.contains("BroadcastExchange"))
    assert(bcasts >= 2, s"expected >=2 broadcasts\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    // the per-row side of every join is the STREAMED side of a
    // BroadcastHashJoin — a fact-sized shuffle would appear as a
    // hashpartitioning exchange over o_orderkey
    assert(!p.contains("hashpartitioning(o_orderkey"), p)
  }

  test("q_feature_hashing: token stream partially aggregates before the exchange") {
    val p = plan("q_feature_hashing")
    // map-side combine: a partial HashAggregate must sit BELOW the
    // (doc_id, bucket) exchange so the wire carries <=64 rows per doc,
    // not the exploded token stream
    val i = p.indexOf("Exchange hashpartitioning(doc_id")
    assert(i > 0, p)
    // the printed plan is top-down (children below parents): a
    // HashAggregate BELOW the exchange, itself above the explode
    // Generate, is the partial step
    val below = p.substring(i)
    val agg = below.indexOf("HashAggregate")
    assert(agg > 0, p)
    assert(below.indexOf("Generate explode", agg) > agg, p)
  }

  test("q_hits: node-bounded scores plan as two kernel frames") {
    val p = plan("q_hits")
    // the dense-vector kernel ran every half-round as its own job when
    // the query was built; the plan left for the caller only reads the
    // two score frames — no cached edge layout, no join, no window,
    // and its size no longer grows with the rounds
    assert(p.contains("Range"), p)
    assert(!p.contains("InMemoryTableScan"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(p.length < 20000, s"plan unexpectedly large: ${p.length} chars")
  }

  test("q_ab_test: user rollup partially aggregates; output frames are row-bounded") {
    val p = plan("q_ab_test")
    // the only data-sized exchange is the user_id rollup; everything
    // after is a 2-row then 1-row frame
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2, s"expected <=2 hash exchanges, got $shuffles\n$p")
    assert(!p.contains("Join"), p) // conditional agg, never a join
  }
}
