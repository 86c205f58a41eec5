package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Runs exactness-critical queries under different shuffle partition
  * counts and asserts IDENTICAL results — the property the numeric
  * conventions (exact decimal sums, integer moment accumulation,
  * fixed-order double folds, quantized Lloyd recentering) exist to
  * guarantee. A plain double SUM would pass the DuckDB hash check by
  * luck at one partitioning and fail at another; this spec pins the
  * invariance the 100 TB claim actually rests on (a cluster never
  * reproduces the test harness's partition count).
  */
class PartitionInvarianceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // exactness-critical representatives: decimal aggregation, integer
  // moment regression, ratio-scored retrieval, UDAF, trained ANN,
  // XOR table fingerprint (commutativity IS its partition-order
  // claim), decimal-quartile bucketing
  // ... plus the round-5 additions whose doubles ride on fixed-order
  // folds (char diversity) or whose sequential prefix runs after a
  // partition-order-sensitive rollup (sweep-line)
  // ... and q_exact_median, whose ALGORITHM is parameterized by the
  // partition count (ExactRank range-partitions into
  // numShufflePartitions slices — the offsets math must make the
  // selected element independent of how many), and the label-prop
  // pair whose vote rollups/argmax must not see partition order
  // ... and the late-round composites: cluster labels (persisted
  // count frame + TopKPerKey heaps + integer lift) and the curation
  // funnel (per-doc flags from three independent id-frame joins)
  // ... and the sketch wave: CMS cells / HLL registers are built by
  // commutative integer max/count aggregations (partition order must
  // not leak into any cell), the join-size inner product sums exact
  // integers, and the calibration report's percentile boundaries +
  // double quality threshold must select identical rows at any
  // partitioning
  private val names = Seq("q_pricing_summary", "q_weather_trend",
    "q_bm25", "q_weighted_avg_udaf", "q_ann_pq", "q_table_checksum",
    "q_rfm_segments", "q_char_diversity", "q_sweepline_concurrency",
    "q_exact_median", "q_label_prop", "q_modularity",
    "q_cluster_labels", "q_curation_funnel",
    "q_countmin_heavy", "q_hll_distinct", "q_joinsize_sketch",
    "q_quality_calibration",
    // rolling distinct: the lead-window interval construction + the
    // endpoint rollup both shuffle; coverage counts are integers but
    // the interval DERIVATION must not see partition order
    "q_rolling_wau",
    // round-7 wave: AUC's prefix-sum fold is parameterized by the
    // partition count (the rank math must select identical midranks
    // at any slicing); the two encodings are decimal-exact broadcast
    // rollups; hashing-trick counts are commutative integer sums;
    // HITS interleaves per-iteration global maxes (commutative) with
    // integer contribution sums — no partition order may leak into
    // either; Benford is a 9-group integer rollup + share divisions
    "q_roc_auc", "q_target_encoding", "q_feature_hashing",
    "q_hits", "q_benford",
    // round-8 wave: the waterfill pair — the registry-frame sort
    // window, the feasible-K aggregate, and the per-source prefix
    // admission (plus its XOR set fingerprint) must all select
    // identical rows at any slicing
    "q_token_budget_fill", "q_budget_admission",
    // round-9 wave: the quantile-sketch family — the ≤61-row level
    // aggregate, the sketch filter, the Aggregator's per-group merges
    // (arbitrary merge ORDER must yield the same sketch), and the
    // histogram's broadcast bucket counts are all multiset functions;
    // paragraph dedup's first-occurrence winner is a commutative min
    "q_quantile_sketch", "q_histogram_sketch", "q_group_quantiles",
    "q_paragraph_dedup",
    // storage wave: all three ride XOR set fingerprints (commutative
    // by construction), and the machinery under them — pruned file
    // lists, ledger anti-join, bloom pre-filter — must select the
    // same ROWS at any slicing for those fingerprints to match
    "q_zonemap_pruned", "q_delete_ledger", "q_bloom_join_reduce",
    // the served per-group store: clearAll() forces a full store
    // REBUILD (two mergeDelta batches of typed-Aggregator exchanges)
    // at each partition count — merge order inside the partial
    // aggregation must never leak into the stored sketch
    "q_group_quantiles_served",
    // soft dedup: the isqrt quota must select the same ticket-ordered
    // winners (and hence the same xor fingerprint) at any slicing
    "q_soft_dedup",
    // source overlap: the bounded pair expansion from per-hash source
    // SETS must yield identical counts at any slicing (collect_set
    // order is normalized by sort_array before pairing)
    "q_source_overlap",
    // auto zone-map pruning: the pruned file set (and therefore the
    // xor fingerprint over the scanned rows) must not depend on the
    // partition count of the catalog build or the aggregation
    "q_zonemap_auto",
    // version diff: the anti-join-derived change feed and its xor
    // fingerprint must select the same rows at any slicing
    "q_version_diff",
    // per-group served histogram: group-keyed windows over the store
    // rows must pick identical boundary positions at any slicing
    "q_group_histogram_served",
    // z-order box: the 2-D pruned file set + xor fingerprint must
    // not depend on the layout write's or the rollup's slicing
    "q_zorder_box")

  private def run(name: String, parts: String): Seq[String] = {
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    // drop memoized ANN training: without this, q_ann_pq's second run
    // would reuse the first run's centroids/codebooks and the test
    // would never exercise training at the second partition count —
    // exactly the order-dependent-accumulation regression it exists
    // to catch
    graft.ops.BuildOnce.clearAll()
    try SparkEntry.queries(name)(spark, sf)
      .collect().map(_.toString).toSeq
    finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }

  for (name <- names)
    test(s"$name is bit-identical at 3 vs 32 shuffle partitions") {
      assert(run(name, "3") === run(name, "32"))
    }
}
