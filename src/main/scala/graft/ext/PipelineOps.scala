package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryModule, Tables}

/** Whole-pipeline operators for training-data curation: duplicate
  * CLUSTER resolution (near-dup pairs are edges; a keeper per
  * connected component) and the composed filter pipeline
  * (dedup -> quality -> language agreement).
  */
object PipelineOps {
  import DedupFunctions.normText
  import TextFunctions.{langId, qualityScore, wsTokens}

  /** The per-document scoring stage of the curation pipeline — one
    * narrow pass computing the normalized content hash, quality score,
    * and predicted language. Shared by the batch query
    * (`q_training_pipeline`) and the streaming ingest
    * ([[graft.streaming.CurationIngest]]): same columns, same
    * semantics, batch/streaming-agnostic. */
  def curationScore(docs: DataFrame): DataFrame = {
    val tokens = wsTokens(col("text"))
    docs.select(
      col("doc_id"), col("lang"), col("text"),
      md5(normText(col("text")).cast("binary")).as("content_hash"),
      qualityScore(col("text"), tokens).as("quality"),
      langId(col("text"), tokens).as("lang_pred"))
  }

  /** Connected components by min-label propagation WITH pointer
    * jumping — the distributed shape of duplicate-cluster resolution.
    * Each round does two things:
    *
    *  1. neighbor step: a node adopts the smallest label among its
    *     neighbors (one edge join + min agg) — propagates one hop;
    *  2. shortcut step: a node also adopts its LABEL'S label (one
    *     labels self-join on `cluster` — every label value is a node
    *     id, so the lookup always resolves) — doubles the distance
    *     already covered, the classic pointer-jumping trick.
    *
    * Together the label frontier moves O(2^k) hops after k rounds, so
    * convergence is O(log diameter), not O(diameter): a 1000-link
    * chain of pairwise near-dups (the adversarial shape for plain
    * propagation — and real corpora DO produce long A~B~C~… chains
    * where ends share nothing) resolves in ~10 rounds instead of
    * 1000. `PipelineOpsSpec` proves the round count on a long path.
    * No driver-side data: the loop only checks a convergence COUNT.
    *
    * @param nodes (id)      one row per document
    * @param edges (src,dst) undirected near-dup pairs (either direction)
    * @return (id, cluster)  cluster = min doc id reachable
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val both = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    var labels = nodes.select(col("id"), col("id").as("cluster")).persist()
    var converged = false
    var iter = 0
    // the cap is a RUNAWAY GUARD, not an answer: stopping early would
    // silently return wrong (split) clusters — so exceeding the cap
    // throws instead of returning. With pointer jumping the cap
    // covers graphs of diameter ~2^60.
    val maxIters = 60
    while (!converged) {
      if (iter >= maxIters)
        throw new IllegalStateException(
          s"connectedComponents: no convergence after $maxIters rounds " +
            "(unreachable for any graph that fits in storage; " +
            "indicates a propagation bug, not a data property)")
      val viaNeighbors = labels.join(both, labels("id") === both("src"))
        .select(col("dst").as("id"), col("cluster"))
      // shortcut: cluster(cluster(id)) — labels keyed by id, probed
      // with the current cluster value
      val viaShortcut = labels.join(
          labels.select(col("id").as("c_id"), col("cluster").as("c_cluster")),
          labels("cluster") === col("c_id"))
        .select(col("id"), col("c_cluster").as("cluster"))
      // localCheckpoint TRUNCATES THE LINEAGE each round — labels is
      // referenced 4× per round (neighbor probe, shortcut build+probe,
      // convergence check), so without truncation the logical plan
      // grows 4^rounds and planning itself OOMs long before the data
      // does. Eager checkpoint also replaces persist(). On a real
      // cluster swap for reliable checkpoint(dir) — localCheckpoint
      // trades executor-loss fault tolerance for speed.
      val next = labels.select("id", "cluster")
        .union(viaNeighbors).union(viaShortcut)
        .groupBy("id").agg(min("cluster").as("cluster"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("cluster", "old"), "id")
        .filter(col("cluster") =!= col("old")).count()
      release(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    lastIterations.set(iter)
    both.unpersist()
    // the final frame STAYS cached — the caller's aggregate reads it
    // without recomputing the whole propagation chain; the previous
    // invocation's copy is released here (bounded at one copy)
    Option(lastLabels.getAndSet(labels)).foreach(release)
    labels
  }

  /** Release a superseded labels frame DETERMINISTICALLY. Plain
    * persisted frames release via unpersist(); a localCheckpoint'ed
    * frame holds its data as RDD-level persistence that
    * Dataset.unpersist() does NOT touch — without the LogicalRDD
    * reach-through below, every round's full label-table copy would
    * sit in storage until the weak-ref ContextCleaner happened to
    * notice it was unreferenced (unbounded in-flight copies on a big
    * graph; the whole point of releasing per round is a bounded
    * working set). */
  private def release(df: DataFrame): Unit =
    graft.ops.BuildOnce.releaseFrame(df)

  private val lastLabels =
    graft.ops.BuildOnce.swapRef()

  /** Rounds the last [[connectedComponents]] call took to converge —
    * test observability for the O(log diameter) claim. */
  val lastIterations = new java.util.concurrent.atomic.AtomicInteger(0)

  /** DBSCAN role classification over a prebuilt SYMMETRIZED edge frame
    * (`src`, `dst`; both directions present, no self-loops): a node
    * with ≥ `minPts` neighbors is CORE; clusters are connected
    * components of the core-core subgraph labeled by min core id; a
    * non-core node adjacent to a core joins that core's cluster as
    * BORDER (min cluster over its core neighbors — deterministic);
    * everything else is NOISE with cluster −1.
    *
    * This is the classification plain CC cannot make: CC clusters ANY
    * edge-connected pair, DBSCAN demands local density before a point
    * may seed a cluster — an isolated near-dup pair stays noise.
    * Scale shape: one degree aggregation, two semi-joins to the core
    * subgraph, [[connectedComponents]] (O(log diameter) rounds) on the
    * much smaller core set, one border equi-join — never all-pairs,
    * no per-node iteration. `nodes` must carry `id`. */
  def dbscanRoles(nodes: DataFrame, edges: DataFrame,
      minPts: Int): DataFrame = {
    // degree = DISTINCT neighbors, not raw edge rows: a caller passing
    // a multi-edge frame (duplicate (src,dst) pairs) must not inflate
    // density past minPts
    val core = edges.groupBy("src").agg(countDistinct(col("dst")).as("deg"))
      .filter(col("deg") >= minPts).select(col("src").as("id"))
    val coreEdges = edges
      .join(core.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(core.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .filter(col("src") < col("dst"))
      .select("src", "dst")
    val comp = connectedComponents(core, coreEdges)
    val borderLbl = edges
      .join(core.select(col("id").as("src")), Seq("src"), "left_anti")
      .join(comp.select(col("id").as("dst"), col("cluster")), "dst")
      .groupBy("src").agg(min("cluster").as("cluster"))
      .select(col("src").as("id"), col("cluster"))
    nodes
      .join(comp.select(col("id"), col("cluster").as("__core_cl")),
        Seq("id"), "left")
      .join(borderLbl.select(col("id"), col("cluster").as("__border_cl")),
        Seq("id"), "left")
      .select(col("id"),
        when(col("__core_cl").isNotNull, "core")
          .when(col("__border_cl").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("__core_cl"), col("__border_cl"), lit(-1L))
          .as("cluster"))
  }

  /** Token-budget sequence packing — the step between a curated corpus
    * and a training run: documents are concatenated (in a deterministic
    * shard-local order) and sliced into fixed `seqLen`-token context
    * windows, exactly how GPT-style pretraining packs its batches. Each
    * doc gets the (sequence id, offset) where its first token lands; a
    * doc may straddle a boundary — that IS packed pretraining's
    * semantics, not an approximation.
    *
    * Scale shape: one shuffle to the shard windows (8-way here; 10k-way
    * at 100 TB), then a per-shard prefix sum — no global row_number
    * funnel, no driver state. The prefix sum is exact BIGINT math, so
    * any engine replays the same packing.
    */
  def packSequences(docs: DataFrame, seqLen: Int, shards: Int = 8): DataFrame = {
    require(seqLen > 0 && shards > 0, s"seqLen $seqLen / shards $shards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("__h", "doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("__h"),
        TextFunctions.bpeishCount(col("text")).as("n_tokens"))
      // same md5-hex-digit shard assignment as q_train_shards — one
      // deterministic definition of "which shard a doc trains in"
      .withColumn("shard",
        (expr("locate(substring(__h, 1, 1), '0123456789abcdef')") - 1)
          .cast("long") % shards)
      .withColumn("__cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"__cum div $seqLen").as("seq_id"),
        (col("__cum") % seqLen).as("seq_offset"))
  }

  /** Temperature resampling to flatten a skewed domain distribution —
    * the mixing step of a pretraining data recipe: over-represented
    * domains are deterministically downsampled toward the smallest one
    * with keep rate sqrt(n_min / n_domain) (temperature T=2 mixing; the
    * smallest domain keeps everything, a 4x-larger one keeps half).
    *
    * The keep decision is a pure function of doc_id — an LCG residue
    * compared against the domain's integer threshold — so admission is
    * replayable by any engine and stable across runs (at production
    * scale you'd swap the LCG for xxhash64; it lives here because the
    * DuckDB oracle must recompute it). sqrt and one division are the
    * only double ops, both IEEE-correctly-rounded, so thresholds match
    * bit-exactly across engines. No double SUMMATION crosses groups —
    * that would be order-sensitive.
    *
    * Scale shape: the per-domain count is one partial agg; thresholds
    * broadcast; the keep filter is narrow. The corpus shuffles zero
    * times.
    */
  def temperatureMix(docs: DataFrame, domain: String): DataFrame = {
    val counts = docs.groupBy(domain).agg(count(lit(1)).as("n_docs"))
    val thresholds = counts
      .crossJoin(broadcast(counts.agg(min(col("n_docs")).as("__n_min"))))
      .withColumn("keep_threshold",
        floor(sqrt(col("__n_min").cast("double") / col("n_docs")) * 1000000)
          .cast("long"))
      .drop("__n_min")
    // doc_id is folded below 2^20 before the multiply so the LCG can
    // never overflow ANSI BIGINT arithmetic, whatever the id range
    val u = ((col("doc_id") % 1048573L) * 1103515245L + 12345L) %
      2147483648L % 1000000L
    docs.select(col(domain), col("doc_id"), u.as("__u"))
      .join(broadcast(thresholds), domain)
      .groupBy(col(domain), col("n_docs"), col("keep_threshold"))
      .agg(sum(when(col("__u") < col("keep_threshold"), 1L).otherwise(0L))
        .as("n_kept"))
  }

  /** Integer waterfill: allocate a token `budget` across sources by
    * the max UNIFORM CAP that fits — alloc_i = min(t_i, c*) with
    * c* = max{c : Σ min(t_i, c) ≤ budget} — the budgeted data-mixing
    * primitive (cap the over-represented domains, take the small ones
    * whole; [[temperatureMix]] flattens by a temperature, this fills
    * an absolute budget). Exact closed form, no iteration: sort
    * sources by t ascending with prefix sums P_k; A(c) = P_k+(n−k)·c
    * on the segment [t_k, t_{k+1}), so K = max{k : P_k+(n−k)·t_k ≤
    * budget} pins the segment and c* = (budget−P_K) div (n−K) (all
    * sources fit when K = n; nothing fits a sliver — K = 0 degrades
    * to budget div n). All BIGINT; `budget` may reference the frame's
    * own global windows (e.g. `expr("sum(t) over () div 2")`).
    *
    * Input: one row per source with `t` (token count) + passthrough
    * columns. Output adds budget/cap/alloc/capped.
    *
    * Scale shape: runs on the SOURCE-grain rollup — |sources| rows (a
    * domain registry, thousands at worst), so the single-partition
    * sort window is bounded by construction, the K aggregate is one
    * row, and it broadcast-crossjoins back. The corpus-sized work is
    * whatever built `t` upstream (one map-side-combined rollup in
    * [[PipelineQueries]]' q_token_budget_fill).
    */
  def waterfill(perSource: DataFrame, budget: org.apache.spark.sql.Column,
      key: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asc = Window.orderBy(col("t"), col(key))
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = perSource
      .withColumn("k", row_number().over(asc).cast("long"))
      .withColumn("p", sum(col("t")).over(
        asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nsrc", count(lit(1)).over(all))
      .withColumn("tmax", max(col("t")).over(all))
      .withColumn("budget", budget)
    // the feasible-segment aggregate: max k whose segment START fits.
    // Empty when even the smallest source can't be taken whole at a
    // uniform cap (K = 0) — coalesce to the P_0 = 0 segment.
    val kAgg = ranked
      .filter(col("p") + (col("nsrc") - col("k")) * col("t") <= col("budget"))
      .agg(max(struct(col("k"), col("p"))).as("kp"))
      .select(coalesce(col("kp.k"), lit(0L)).as("bk"),
        coalesce(col("kp.p"), lit(0L)).as("bp"))
    ranked.crossJoin(broadcast(kAgg))
      .withColumn("cap",
        expr("case when bk = nsrc then tmax" +
          " else (budget - bp) div (nsrc - bk) end"))
      .withColumn("alloc", least(col("t"), col("cap")))
      .withColumn("capped", (col("t") > col("cap")).cast("long"))
      .drop("k", "p", "nsrc", "tmax", "bk", "bp")
  }

  /** Regime gate for [[admissionCum]]: above this many rows in ONE
    * source, the per-source window (whose partition is a single task
    * holding the whole source: ~100 B/row with the 32-char md5 sort
    * key ⇒ ~100 MB at 1M rows, the executor-comfort line the
    * pageRank broadcastNodes gate uses) swaps for the
    * [[graft.ops.ExactRank.prefixSum]] two-job fold, which spreads
    * the sort across the cluster. Both regimes are BIT-EQUAL by
    * construction (spec-pinned): a global prefix sum under
    * (source, hash, doc_id) order minus the per-source exclusive
    * offset IS the per-source prefix sum. */
  val HotSourceRows = 1000000L

  /** Per-source hash-order admission prefix sum — the cumulative
    * token count each doc sees when documents admit in deterministic
    * md5(doc_id) order within their source (q_budget_admission's
    * kernel). Input columns: (source, doc_id, nt); output adds `cum`.
    *
    * Two regimes behind one measured gate (one registry-sized count
    * job decides):
    *   - window: ONE shuffle on source, per-source running sum — the
    *     default while every source fits a task;
    *   - hot-source: [[graft.ops.ExactRank.prefixSum]] global fold
    *     under (source, md5, doc_id) order, then per-source cum =
    *     global cum − the source's exclusive offset (a |sources|-row
    *     broadcast; its window is registry-bounded by construction).
    */
  def admissionCum(docs: DataFrame,
      hotSourceRows: Long = HotSourceRows): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hm = md5(col("doc_id").cast("string"))
    val maxPerSource = docs.groupBy("source")
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L))).head().getLong(0)
    if (maxPerSource <= hotSourceRows) {
      val ord = Window.partitionBy(col("source")).orderBy(hm, col("doc_id"))
      docs.withColumn("cum", sum(col("nt")).over(ord.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
    } else {
      val g = graft.ops.ExactRank.prefixSum(
        docs.withColumn("__hm", hm),
        Seq(col("source"), col("__hm"), col("doc_id")),
        Seq("__gcum" -> col("nt")))
      // exclusive per-source offsets over the registry frame (the
      // waterfill single-partition contract: |sources| rows)
      val wo = Window.orderBy(col("source"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = docs.groupBy("source").agg(sum(col("nt")).as("__ts"))
        .withColumn("__off", coalesce(sum(col("__ts")).over(wo), lit(0L)))
        .select(col("source"), col("__off"))
      g.join(broadcast(offs), "source")
        .withColumn("cum", col("__gcum") - col("__off"))
        .drop("__hm", "__gcum", "__off")
    }
  }
}

object PipelineQueries extends QueryModule {
  import DedupFunctions._
  import TextFunctions._

  override def defs: Seq[(String, QueryDef)] = Seq(

    // ---- Training-shard assignment: deterministic pseudo-random
    // shard via an md5-derived hex digit (hash assignment — NO global
    // sort/row_number, which would funnel 100 TB through one
    // partition), position within shard via a PARTITIONED window.
    // Every engine computes the same md5, so the oracle reproduces
    // the exact assignment.
    "q_train_shards" -> QueryDef(
      fn = (spark, dir) => {
        val h = md5(col("doc_id").cast("string"))
        Tables(spark, dir, "documents")
          .select(col("doc_id"), h.as("__h"))
          .withColumn("shard",
            (expr("locate(substring(__h, 1, 1), '0123456789abcdef')") - 1)
              .cast("long") % 8)
          .withColumn("pos", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("shard").orderBy("__h", "doc_id"))
            .cast("long") - 1)
          .select("doc_id", "shard", "pos")
          .orderBy("doc_id")
      },
      oracle = Some("""
        |WITH h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents),
        |s AS (
        |  SELECT doc_id, hh,
        |    (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) % 8 AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hh, doc_id) - 1 AS pos
        |FROM s ORDER BY doc_id""".stripMargin)),

    // ---- Importance weighting for domain-targeted sampling (the
    // DSIR idea — Xie et al. 2023, "Data Selection for Language
    // Models via Importance Resampling" — re-expressed in exact
    // integer arithmetic): score every document by how much its
    // hashed-feature distribution looks like a TARGET domain (here
    // lang='en') relative to the raw corpus, then take the top 50 as
    // the sampling shortlist. Features are word unigrams hashed to
    // 1024 buckets (the hashed-LM trick that makes the model size
    // INDEPENDENT of vocabulary); per-bucket weight is the smoothed
    // target/raw frequency ratio in millionths,
    //   w(f) = (n_target(f)+1)·10^6 div (n_raw(f)+1),
    // and a document's score is the sum of its token occurrences'
    // weights, length-normalized by integer division. Integer sums
    // commute, so the oracle replays the exact ranking (a log-space
    // float formulation would be order-sensitive and engine-divergent).
    // Scale shape — the DSIR architecture: the hashed LM is TWO
    // 1024-row tables built by one partial-aggregated pass, collected
    // as bounded driver state (sketch-class, like IVF centroids) and
    // re-broadcast as a LITERAL array; scoring is then a fully NARROW
    // per-row fold over each doc's tokens — no explode, no shuffle,
    // no join. At 100 TB: one cheap stats pass + one map pass; only
    // the 50-row shortlist moves. The oracle replays the same
    // arithmetic via its join formulation (same integers either way).
    "q_importance_weights" -> QueryDef(
      fn = (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val B = 1024
        val toks = filter(wsTokens(col("text")), x => x =!= "")
        val bkt = (c: org.apache.spark.sql.Column) =>
          pmod(conv(md5(c).substr(1, 15), 16, 10).cast("long"), lit(B.toLong))
        val stats = docs
          .select(col("lang"), explode(toks).as("w"))
          .select(col("lang"), bkt(col("w")).as("bkt"))
          .groupBy("bkt")
          .agg(count(lit(1)).as("nr"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"))
          .select(col("bkt"),
            expr("((nt + 1) * 1000000) div (nr + 1)").as("w"))
          .collect()
        val warr = Array.fill(B)(1000000L) // untouched buckets: ratio 1
        stats.foreach(r => warr(r.getLong(0).toInt) = r.getLong(1))
        val wlit = typedlit(warr.toSeq)
        docs
          .withColumn("toks", toks)
          .filter(size(col("toks")) > 0)
          .select(col("doc_id"), col("lang"),
            size(col("toks")).cast("long").as("n_tokens"),
            aggregate(col("toks"), lit(0L), (acc, x) =>
              acc + element_at(wlit, bkt(x).cast("int") + 1)).as("score"))
          .withColumn("norm_score", expr("score div n_tokens"))
          .orderBy(col("norm_score").desc, col("doc_id"))
          .limit(50)
      },
      oracle = Some("""
        |WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(text, '\s+'),
        |                       x -> x <> '')) AS w
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 1024 AS bkt
        |  FROM tok),
        |raw AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS nr,
        |          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS nt
        |        FROM feat GROUP BY bkt),
        |wt AS (SELECT bkt, ((nt + 1) * 1000000) // (nr + 1) AS w FROM raw),
        |doc AS (
        |  SELECT f.doc_id, any_value(f.lang) AS lang,
        |    CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(w.w) AS BIGINT) AS score
        |  FROM feat f JOIN wt w USING (bkt) GROUP BY f.doc_id)
        |SELECT doc_id, lang, n_tokens, score,
        |  score // n_tokens AS norm_score
        |FROM doc ORDER BY norm_score DESC, doc_id LIMIT 50""".stripMargin)),

    // ---- Duplicate clusters: exact-Jaccard near-dup pairs as edges,
    // connected components, one keeper (min doc_id) per cluster.
    // Oracle: DuckDB recursive CTE computing min reachable label over
    // the same edge set.
    "q_dedup_clusters" -> QueryDef(
      fn = (spark, dir) => {
        val docs = withPlantedNearDups(Tables(spark, dir, "documents"))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            distinctShingles(col("text")).as("sh"))
        // (lang, length-bucket) blocked pair generation — the band is in
        // the equi-join key (DedupFunctions.bandedPairs), not a filter
        val edges = bandedPairs(docs)
          .filter(jaccard(col("sh_a"), col("sh_b")) >= 0.6)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        val nodes = withPlantedNearDups(Tables(spark, dir, "documents"))
          .select(col("doc_id").as("id"))
        PipelineOps.connectedComponents(nodes, edges)
          .groupBy("cluster")
          .agg(count(lit(1)).as("cluster_size"))
          .filter(col("cluster_size") > 1) // non-trivial clusters only
          .orderBy("cluster")
      },
      // WITH RECURSIVE applies to the whole clause — rewrite the shared
      // planted-corpus prefix accordingly
      oracle = Some(plantedCte.replaceFirst("^WITH ", "WITH RECURSIVE ") + """,
        |tok AS (
        |  SELECT doc_id, lang, n_chars,
        |         string_split_regex(text, '\s+') AS tokens FROM docs),
        |sh AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_distinct(list_transform(
        |      generate_series(0, greatest(len(tokens) - 3, 0)),
        |      i -> array_to_string(tokens[i+1:i+3], ' '))) AS sh
        |  FROM tok),
        |pairs AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM sh a JOIN sh b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |   AND abs(a.n_chars - b.n_chars) <= 60
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
        |edges AS (
        |  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |reach AS (
        |  SELECT doc_id AS id, doc_id AS lbl FROM docs
        |  UNION
        |  SELECT e.dst AS id, r.lbl
        |  FROM reach r JOIN edges e ON e.src = r.id),
        |components AS (
        |  SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id)
        |SELECT cluster, COUNT(*) AS cluster_size
        |FROM components GROUP BY cluster
        |HAVING COUNT(*) > 1 ORDER BY cluster""".stripMargin)),

    // ---- The composed curation pipeline: normalize-dedup (keep min
    // doc_id per normalized hash) -> quality floor -> language
    // agreement (predicted == recorded). One narrow pass + one
    // hash-partitioned dedup shuffle; the shape of a real pretraining
    // filter chain.
    "q_training_pipeline" -> QueryDef(
      fn = (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val scored = PipelineOps.curationScore(docs)
        val keeper = scored.groupBy("content_hash")
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        scored.join(keeper, "doc_id", "left_semi")
          .filter(col("quality") >= 0.5 && col("lang_pred") === col("lang"))
          .select("doc_id", "lang", "quality")
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        |WITH scored AS (
        |  SELECT doc_id, lang,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS content_hash,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |      + (1.0 - least(CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) * 10.0, 1.0)) * 0.3
        |      + least(CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(enStop)}))) AS DOUBLE) / len(string_split_regex(text, '\\s+')) * 5.0, 1.0) * 0.3
        |      AS quality,
        |    CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
        |         WHEN len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(enStop)}))) >= len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(esStop)})))
        |          AND len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(enStop)}))) >= len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(frStop)})))
        |          AND len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(enStop)}))) >= len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(deStop)}))) THEN 'en'
        |         WHEN len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(esStop)}))) >= len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(frStop)})))
        |          AND len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(esStop)}))) >= len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(deStop)}))) THEN 'es'
        |         WHEN len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(frStop)}))) >= len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(deStop)}))) THEN 'fr'
        |         ELSE 'de' END AS lang_pred
        |  FROM documents),
        |keepers AS (
        |  SELECT MIN(doc_id) AS doc_id FROM scored GROUP BY content_hash)
        |SELECT s.doc_id, s.lang, s.quality
        |FROM scored s JOIN keepers k ON s.doc_id = k.doc_id
        |WHERE s.quality >= 0.5 AND s.lang_pred = s.lang
        |ORDER BY s.doc_id""".stripMargin)),

    // ---- Sequence packing: slice the shard-ordered token stream into
    // fixed 512-token training windows (see PipelineOps.packSequences).
    // One shard shuffle + a per-shard exact-BIGINT prefix sum.
    "q_sequence_packing" -> QueryDef(
      fn = (spark, dir) =>
        PipelineOps.packSequences(Tables(spark, dir, "documents"), seqLen = 512)
          .orderBy("doc_id"),
      oracle = Some("""
        |WITH h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, hh, n_tokens,
        |    (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) % 8 AS shard
        |  FROM h),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY hh, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum
        |  FROM s)
        |SELECT doc_id, shard, n_tokens,
        |  cum // 512 AS seq_id, cum % 512 AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- Domain-mix temperature resampling: flatten the skewed
    // language distribution toward the smallest one (see
    // PipelineOps.temperatureMix). Output is the per-domain audit row:
    // size, integer keep threshold, and admitted count.
    "q_domain_mix" -> QueryDef(
      fn = (spark, dir) =>
        PipelineOps.temperatureMix(Tables(spark, dir, "documents"), "lang")
          .orderBy("lang"),
      oracle = Some("""
        |WITH counts AS (
        |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |thresholds AS (
        |  SELECT lang, n_docs,
        |    CAST(floor(sqrt(CAST((SELECT MIN(n_docs) FROM counts) AS DOUBLE)
        |      / n_docs) * 1000000) AS BIGINT) AS keep_threshold
        |  FROM counts),
        |u AS (
        |  SELECT lang, doc_id,
        |    ((doc_id % 1048573) * 1103515245 + 12345) % 2147483648 % 1000000 AS u
        |  FROM documents)
        |SELECT u.lang, t.n_docs, t.keep_threshold,
        |  CAST(SUM(CASE WHEN u.u < t.keep_threshold THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept
        |FROM u JOIN thresholds t ON u.lang = t.lang
        |GROUP BY u.lang, t.n_docs, t.keep_threshold
        |ORDER BY u.lang""".stripMargin)),

    // ---- Token-budget waterfill: allocate HALF the corpus's tokens
    // across sources at the maximum uniform cap that fits
    // ([[PipelineOps.waterfill]] — exact closed form on the sorted
    // prefix sums, no iteration). The audit row a mixing pipeline
    // publishes per source: how many tokens it holds, how many the
    // budget admits, and whether the cap bound it. Exactness: token
    // counts are whitespace-token integers (the q_feature_hashing
    // tokenizer on both engines), every derived value is BIGINT
    // arithmetic (`div` ≡ `//`). Scale shape: ONE map-side-combined
    // rollup of the corpus to |sources| rows; everything after runs
    // on that bounded registry frame (single-partition window is
    // |sources|-sized by construction, documented in the operator).
    "q_token_budget_fill" -> QueryDef(
      fn = (spark, dir) => {
        val toks = filter(wsTokens(col("text")), t => t =!= "")
        val per = Tables(spark, dir, "documents")
          .select(col("source"), size(toks).cast("long").as("nt"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("t"))
        PipelineOps.waterfill(per, expr("sum(t) over () div 2"))
          .select(col("source"), col("n_docs"),
            col("t").as("n_tokens"), col("budget"), col("cap"),
            col("alloc"), col("capped"))
          .orderBy("source")
      },
      oracle = Some("""
        |WITH per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> ''))) AS BIGINT) AS t
        |  FROM documents GROUP BY source),
        |r AS (
        |  SELECT source, n_docs, t,
        |    CAST(ROW_NUMBER() OVER (ORDER BY t, source) AS BIGINT) AS k,
        |    CAST(SUM(t) OVER (ORDER BY t, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS p,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS nsrc,
        |    CAST(SUM(t) OVER () // 2 AS BIGINT) AS budget,
        |    CAST(MAX(t) OVER () AS BIGINT) AS tmax
        |  FROM per),
        |kk AS (
        |  SELECT COALESCE(MAX_BY(k, k), 0) AS bk,
        |         COALESCE(MAX_BY(p, k), 0) AS bp
        |  FROM r WHERE p + (nsrc - k) * t <= budget),
        |c AS (
        |  SELECT r.*, CAST(CASE WHEN kk.bk = r.nsrc THEN r.tmax
        |    ELSE (r.budget - kk.bp) // (r.nsrc - kk.bk) END AS BIGINT)
        |    AS cap
        |  FROM r CROSS JOIN kk)
        |SELECT source, n_docs, t AS n_tokens, budget, cap,
        |  CAST(LEAST(t, cap) AS BIGINT) AS alloc,
        |  CAST(CASE WHEN t > cap THEN 1 ELSE 0 END AS BIGINT) AS capped
        |FROM c ORDER BY source""".stripMargin)),

    // ---- Budget ADMISSION: realize q_token_budget_fill's per-source
    // allocation as an actual document pick — docs admit in
    // deterministic hash order (md5 of doc_id, the q_train_shards /
    // q_weighted_sample pseudo-random convention) while their
    // token-prefix sum fits the source's alloc. PREFIX TRUNCATION,
    // not bin packing: the cut is the first overflow in hash order,
    // so both engines replay the identical admission set — audited
    // here as per-source counts + the bit_xor 60-bit id checksum
    // (q_table_checksum's order-independent fingerprint, so the
    // ADMITTED SET itself is hash-gated, not just its size).
    // Scale shape: one corpus rollup (registry-sized waterfill), then
    // PipelineOps.admissionCum — the per-source prefix sum behind a
    // measured regime gate: a partitioned window while every source
    // fits one task, the ExactRank.prefixSum two-job fold past
    // HotSourceRows (both regimes bit-equal, AdmissionRegimeSpec) —
    // and a registry broadcast back.
    "q_budget_admission" -> QueryDef(
      fn = (spark, dir) => {
        val toks = filter(wsTokens(col("text")), t => t =!= "")
        val docs = Tables(spark, dir, "documents")
          .select(col("source"), col("doc_id"),
            size(toks).cast("long").as("nt"))
        val per = docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("t"))
        val allocF = PipelineOps
          .waterfill(per, expr("sum(t) over () div 2"))
          .select(col("source"), col("alloc"))
        val adm = PipelineOps.admissionCum(docs)
          .join(broadcast(allocF), "source")
          .filter(col("cum") <= col("alloc"))
          .withColumn("h",
            conv(md5(col("doc_id").cast("string")).substr(1, 15), 16, 10)
              .cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_admitted"),
            sum(col("nt")).as("tok_admitted"),
            expr("bit_xor(h)").as("ids_xor60"))
        // both sides are registry-sized; broadcast the admitted rollup
        // so the final stitch never plans a sort-merge exchange
        allocF.join(broadcast(adm), Seq("source"), "left")
          .select(col("source"), col("alloc"),
            coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
            coalesce(col("tok_admitted"), lit(0L)).as("tok_admitted"),
            expr("coalesce(tok_admitted, 0) * 10000" +
              " div nullif(alloc, 0)").as("fill_bp"),
            coalesce(col("ids_xor60"), lit(0L)).as("ids_xor60"))
          .orderBy("source")
      },
      oracle = Some("""
        |WITH per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> ''))) AS BIGINT) AS t
        |  FROM documents GROUP BY source),
        |r AS (
        |  SELECT source, t,
        |    CAST(ROW_NUMBER() OVER (ORDER BY t, source) AS BIGINT) AS k,
        |    CAST(SUM(t) OVER (ORDER BY t, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS p,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS nsrc,
        |    CAST(SUM(t) OVER () // 2 AS BIGINT) AS budget,
        |    CAST(MAX(t) OVER () AS BIGINT) AS tmax
        |  FROM per),
        |kk AS (
        |  SELECT COALESCE(MAX_BY(k, k), 0) AS bk,
        |         COALESCE(MAX_BY(p, k), 0) AS bp
        |  FROM r WHERE p + (nsrc - k) * t <= budget),
        |a AS (
        |  SELECT r.source,
        |    CAST(LEAST(r.t, CASE WHEN kk.bk = r.nsrc THEN r.tmax
        |      ELSE (r.budget - kk.bp) // (r.nsrc - kk.bk) END)
        |      AS BIGINT) AS alloc
        |  FROM r CROSS JOIN kk),
        |d AS (
        |  SELECT source, doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS nt,
        |    md5(CAST(doc_id AS VARCHAR)) AS hm
        |  FROM documents),
        |w AS (
        |  SELECT d.*, a.alloc,
        |    CAST(SUM(nt) OVER (PARTITION BY d.source ORDER BY hm, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM d JOIN a USING (source)),
        |adm AS (
        |  SELECT source, COUNT(*) AS n_admitted,
        |    CAST(SUM(nt) AS BIGINT) AS tok_admitted,
        |    bit_xor(CAST('0x' || substr(hm, 1, 15) AS BIGINT)) AS ids_xor60
        |  FROM w WHERE cum <= alloc GROUP BY source)
        |SELECT a.source, a.alloc,
        |  CAST(COALESCE(adm.n_admitted, 0) AS BIGINT) AS n_admitted,
        |  CAST(COALESCE(adm.tok_admitted, 0) AS BIGINT) AS tok_admitted,
        |  CAST(COALESCE(adm.tok_admitted, 0) * 10000
        |    // nullif(a.alloc, 0) AS BIGINT) AS fill_bp,
        |  CAST(COALESCE(adm.ids_xor60, 0) AS BIGINT) AS ids_xor60
        |FROM a LEFT JOIN adm USING (source) ORDER BY a.source""".stripMargin)),

    // ---- Weighted sampling WITHOUT replacement (deterministic ticket
    // scheme): docs get 1/2/4 tickets by length tier, each ticket
    // hashes to md5(doc_id:t), and a doc's sample key is its MINIMUM
    // ticket hash. Scanning all tickets in hash order and keeping the
    // first k distinct docs IS k successive weighted draws without
    // replacement (a doc first appears at its min ticket, and among
    // remaining docs each ticket is equally likely to be next) — so
    // "k smallest per-doc min-keys" realizes the draw exactly, with
    // no randomness an engine can't replay.
    //
    // Scale shape: the key is ONE narrow expression (array_min over a
    // ≤4-element transform — no explode, no join); the global top-k
    // plans as TakeOrdered (per-partition heap, k rows to the
    // driver). The corpus never shuffles. Weights are data-derived
    // (length tier = more tokens per doc, the length-weighted recipe);
    // any integer weight column slots in.
    "q_weighted_sample" -> QueryDef(
      fn = (spark, dir) => {
        val tickets = when(col("n_chars") >= 400, 4)
          .when(col("n_chars") >= 200, 2).otherwise(1)
        val key = array_min(transform(
          sequence(lit(0), col("tickets") - 1),
          t => md5(concat_ws(":", col("doc_id"), t).cast("binary"))))
        Tables(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            tickets.cast("long").as("tickets"))
          .withColumn("sample_key", key)
          .orderBy("sample_key", "doc_id").limit(100)
      },
      oracle = Some("""
        |WITH w AS (
        |  SELECT doc_id, lang, source,
        |    CAST(CASE WHEN n_chars >= 400 THEN 4
        |              WHEN n_chars >= 200 THEN 2 ELSE 1 END AS BIGINT)
        |      AS tickets
        |  FROM documents)
        |SELECT doc_id, lang, source, tickets,
        |  list_min(list_transform(range(0, tickets),
        |    t -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(t AS VARCHAR))))
        |    AS sample_key
        |FROM w ORDER BY sample_key, doc_id LIMIT 100""".stripMargin)),

    // ---- Canonical-document selection: within each exact-duplicate
    // group (normalized-content hash, same planted upper-case-twin
    // corpus as q_dedup_normalized so groups really have >1 member)
    // keep the HIGHEST-QUALITY copy, not the lowest id — the curation
    // policy that decides which bytes a near-dup cluster contributes
    // to training.
    //
    // Scale shape: ONE hash shuffle on content_hash, then rank +
    // group size inside each partition (two window functions over the
    // same partitioning — one exchange, analyzed together). No joins,
    // no driver state. Ties on the DOUBLE quality break on doc_id;
    // quality itself is a fixed-order sum of products, so both
    // engines order identically (the oracle-parity rule that bans
    // transcendentals and unordered double sums is what makes a
    // quality ORDER BY hash-stable at all).
    "q_canonical_docs" -> QueryDef(
      fn = (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val corpus = docs.unionByName(docs.select(
          (col("doc_id") + 500000).as("doc_id"), upper(col("text")).as("text"),
          col("lang"), col("source"), col("n_chars")))
        val scored = corpus.select(col("doc_id"), col("lang"),
          md5(normText(col("text")).cast("binary")).as("content_hash"),
          qualityScore(col("text"), wsTokens(col("text"))).as("quality"))
        val byGroup = org.apache.spark.sql.expressions.Window
          .partitionBy(col("content_hash"))
        scored
          .withColumn("rn", row_number().over(
            byGroup.orderBy(col("quality").desc, col("doc_id"))))
          .withColumn("n_copies", count(lit(1)).over(byGroup))
          .filter(col("rn") === 1)
          .select(col("content_hash"), col("doc_id").as("canonical_doc_id"),
            col("lang"), col("quality"), col("n_copies"))
          .orderBy("canonical_doc_id")
      },
      oracle = Some(s"""
        |WITH corpus AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, upper(text), lang FROM documents),
        |scored AS (
        |  SELECT doc_id, lang,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS content_hash,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |      + (1.0 - least(CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) * 10.0, 1.0)) * 0.3
        |      + least(CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(enStop)}))) AS DOUBLE) / len(string_split_regex(text, '\\s+')) * 5.0, 1.0) * 0.3
        |      AS quality
        |  FROM corpus),
        |ranked AS (
        |  SELECT content_hash, doc_id, lang, quality,
        |    ROW_NUMBER() OVER (PARTITION BY content_hash
        |                       ORDER BY quality DESC, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY content_hash) AS n_copies
        |  FROM scored)
        |SELECT content_hash, doc_id AS canonical_doc_id, lang, quality,
        |       n_copies
        |FROM ranked WHERE rn = 1 ORDER BY canonical_doc_id""".stripMargin)),

    // ---- Leakage-safe train/val/test split: the split is a pure
    // hash function of the duplicate-GROUP key (normalized-content
    // hash), so exact/near-identical documents land in the same split
    // BY CONSTRUCTION — the eval-contamination failure mode of
    // row-level random splits can't occur, and re-running on a grown
    // corpus never reassigns an existing group (stable splits across
    // snapshots, the property that makes eval sets reusable).
    //
    // Scale shape: zero shuffles until the audit aggregation — the
    // assignment is one narrow md5 expression per row (salted with a
    // 'split:' prefix so the split hash is independent of the group
    // hash); the ~80/10/10 draw is a lexicographic threshold on the
    // hex digest, identical in any engine. PipelineOpsSpec asserts
    // the no-straddle invariant on the planted-twin corpus.
    "q_leakage_split" -> QueryDef(
      fn = (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val corpus = docs.unionByName(docs.select(
          (col("doc_id") + 500000).as("doc_id"), upper(col("text")).as("text"),
          col("lang"), col("source"), col("n_chars")))
        val h = md5(concat(lit("split:"),
          md5(normText(col("text")).cast("binary"))).cast("binary"))
        corpus
          .select(col("n_chars"),
            md5(normText(col("text")).cast("binary")).as("content_hash"),
            when(h < "cc", "train").when(h < "e6", "val")
              .otherwise("test").as("split"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("content_hash")).as("n_groups"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
          .orderBy("split")
      },
      oracle = Some("""
        |WITH corpus AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, upper(text), n_chars FROM documents),
        |keyed AS (
        |  SELECT n_chars,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS content_hash
        |  FROM corpus),
        |assigned AS (
        |  SELECT n_chars, content_hash,
        |    CASE WHEN md5('split:' || content_hash) < 'cc' THEN 'train'
        |         WHEN md5('split:' || content_hash) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM keyed)
        |SELECT split, COUNT(*) AS n_docs,
        |       COUNT(DISTINCT content_hash) AS n_groups,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM assigned GROUP BY split ORDER BY split""".stripMargin)),

    // ---- Incrementally-maintained join view (ops/JoinView): the
    // orders><lineitem view built ONLY through the delta-algebra path
    // — two append batches per side, interleaved so every delta term
    // (dA x B_old, A_old x dB, dA x dB) carries rows — then read back
    // and compared against the oracle's plain one-shot join. The
    // hash match proves the IVM algebra loses and duplicates nothing;
    // JoinViewSpec adds the retry/crash schedules and the
    // partition-pruned state-scan assert.
    "q_join_view" -> QueryDef(
      fn = (spark, dir) => {
        val base = joinViewFor(spark, dir)
        // (o_orderkey, l_linenumber) is NOT unique in the synthetic
        // data — total-order by EVERY output column, so any remaining
        // ties are between fully identical rows (hash-invariant)
        graft.ops.JoinView.read(spark, base)
          .select(col("o_orderkey"), col("l_linenumber"), col("o_custkey"),
            col("o_orderstatus"), col("l_quantity"), col("l_extendedprice"))
          .orderBy("o_orderkey", "l_linenumber", "o_custkey",
            "o_orderstatus", "l_quantity", "l_extendedprice")
      },
      oracle = Some("""
        |SELECT o_orderkey, l_linenumber, o_custkey, o_orderstatus,
        |       l_quantity, l_extendedprice
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin)),

    // ---- Served JOIN view (plans/MatViewRewriteRule's join class):
    // the SAME from-scratch orders><lineitem join code, with the
    // rewrite rule installed and the incrementally-maintained
    // ops/JoinView store registered — the optimizer substitutes the
    // pre-joined store for the two-table join (exact-shape match
    // only: by rewrite time the main optimizer has pushed any
    // candidate-specific filter into the scans, so a different join
    // differs structurally and is never served). The oracle is the
    // plain join over the raw tables, so a PASS proves
    // store-maintenance + rewrite lossless end-to-end; the
    // store-probed/fallback plan asserts live in MatViewServeSpec.
    // At 100 TB this serves the repeated wide fact-join from one
    // pre-shuffled artifact instead of re-paying the join's
    // two-sided exchange per query.
    "q_joinview_served" -> QueryDef(
      fn = (spark, dir) => {
        val base = joinViewFor(spark, dir)
        graft.plans.MatViewRewriteRule.install(spark)
        graft.plans.MatViewRewriteRule.register(
          ordersLineitemJoin(spark, dir), s"$base/view",
          graft.ops.JoinView.read(_, base))
        ordersLineitemJoin(spark, dir)
          .orderBy("o_orderkey", "l_linenumber", "o_custkey",
            "o_orderstatus", "l_quantity", "l_extendedprice")
      },
      oracle = Some("""
        |SELECT o_orderkey, l_linenumber, o_custkey, o_orderstatus,
        |       l_quantity, l_extendedprice
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin)),

    // ---- Two-level quota sampling: a fixed quota per (lang, source)
    // stratum drawn by deterministic id-hash ticket — the equal-
    // allocation eval-set draw that complements q_weighted_sample's
    // global weighted draw, q_domain_mix's temperature resample, and
    // q_stratified_sample's per-language content-hash draw (the
    // ticket here hashes the ID, not the content, so editing a doc's
    // text never moves it in or out of the sample). Same scale shape
    // as top-k-per-key: one shuffle on the stratum key, a bounded
    // heap per stratum, output = strata x k rows regardless of
    // corpus size; re-running on a grown corpus only swaps members
    // whose tickets beat the incumbents (hash tickets, not row
    // order, so the draw is stable under repartitioning).
    "q_source_quota_sample" -> QueryDef(
      fn = (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val ticket = md5(concat(lit("strat:"),
          col("doc_id").cast("string")).cast("binary"))
        docs
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"), ticket.as("ticket"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("lang"), col("source"))
              .orderBy(col("ticket"), col("doc_id"))))
          .filter(col("rn") <= 5)
          .select(col("lang"), col("source"), col("rn").cast("long").as("rn"),
            col("doc_id"), col("n_chars"))
          .orderBy("lang", "source", "rn")
      },
      oracle = Some("""
        |WITH t AS (
        |  SELECT doc_id, lang, source, n_chars,
        |         md5('strat:' || CAST(doc_id AS VARCHAR)) AS ticket,
        |         ROW_NUMBER() OVER (PARTITION BY lang, source
        |                            ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT lang, source, rn, doc_id, n_chars
        |FROM t WHERE rn <= 5 ORDER BY lang, source, rn""".stripMargin)),

    // ---- NEYMAN (variance-optimal) STRATIFIED SAMPLE — the
    // allocation-aware member of the sampling family:
    // q_source_quota_sample fixes EQUAL per-stratum quotas; Neyman
    // allocates the budget ∝ N_h·σ_h, which minimizes the variance of
    // the stratified mean — high-variance strata (where one doc tells
    // you least) get more draws. The allocation weight simplifies to
    // w_h = √(N_h·Σx² − (Σx)²) (exact DECIMAL(38,0) moments inside
    // the sqrt — the q_corr_matrix recipe), and the total Σw_h is a
    // FIXED-ORDER fold over the ≤|strata| weights (sort by lang,
    // left-fold from 0.0 — the q_char_diversity discipline; a SUM
    // aggregate over doubles would be order-dependent and could
    // never hash-match). Draw = deterministic md5-ticket top-n_h per
    // stratum through the bounded-heap TopKPerKey operator (alloc ≤
    // 100, so ≤100 rows per stratum per partition reach the
    // exchange — no per-stratum single-task window), ranks
    // reconstituted on the pruned frame. Metric = n_chars (already
    // materialized — the sampler never reads text).
    "q_neyman_sample" -> QueryDef(
      fn = (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val m = docs.groupBy("lang").agg(
          count(lit(1)).as("nh"),
          sum(d(col("n_chars"))).as("sx"),
          sum(d(col("n_chars")) * d(col("n_chars"))).as("sxx"))
        val w = m.select(col("lang"), col("nh"),
          sqrt((d(col("nh")) * col("sxx") - col("sx") * col("sx"))
            .cast("double")).as("wt"))
        val tot = w.agg(aggregate(
          array_sort(collect_list(struct(col("lang"), col("wt")))),
          lit(0.0), (acc, x) => acc + x("wt")).as("wsum"))
        val alloc = w.crossJoin(broadcast(tot))
          .select(col("lang"), col("nh"),
            floor(col("wt") * 100 / col("wsum")).cast("long")
              .as("n_alloc"))
        val ticket = md5(concat(lit("neyman:"),
          col("doc_id").cast("string")).cast("binary"))
        val ranked = graft.plans.TopK.perKey(
          docs.select(col("doc_id"), col("lang"), ticket.as("ticket")),
          100, Seq("lang"), Seq("ticket" -> true, "doc_id" -> true))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("lang"))
              .orderBy(col("ticket"), col("doc_id"))).cast("long"))
        ranked.join(broadcast(alloc), "lang")
          .filter(col("rn") <= col("n_alloc"))
          .select(col("lang"), col("nh"), col("n_alloc"), col("rn"),
            col("doc_id"))
          .orderBy("lang", "rn")
      },
      oracle = Some("""
        |WITH m AS (
        |  SELECT lang, COUNT(*) AS nh,
        |    SUM(CAST(n_chars AS HUGEINT)) AS sx,
        |    SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
        |      AS sxx
        |  FROM documents GROUP BY 1),
        |w AS (SELECT lang, nh,
        |        sqrt(CAST(nh * sxx - sx * sx AS DOUBLE)) AS wt
        |      FROM m),
        |tot AS (SELECT list_reduce([0.0] || list(wt ORDER BY lang),
        |          (a, b) -> a + b) AS wsum FROM w),
        |alloc AS (SELECT lang, nh,
        |            CAST(FLOOR(wt * 100 / wsum) AS BIGINT) AS n_alloc
        |          FROM w, tot),
        |t AS (SELECT doc_id, lang,
        |        ROW_NUMBER() OVER (PARTITION BY lang
        |          ORDER BY md5('neyman:' || CAST(doc_id AS VARCHAR)),
        |            doc_id) AS rn
        |      FROM documents)
        |SELECT t.lang, a.nh, a.n_alloc, CAST(t.rn AS BIGINT) AS rn,
        |  t.doc_id
        |FROM t JOIN alloc a ON t.lang = a.lang
        |WHERE t.rn <= a.n_alloc
        |ORDER BY t.lang, t.rn""".stripMargin)),

    // ---- THE CURATION FUNNEL — the end-to-end per-stage report every
    // corpus-curation run ships: raw → exact-dedup keepers → near-dup
    // survivors → decontaminated → quality+language final, as ONE
    // exact-count row computed by ONE declarative plan. Each stage's
    // rule is the same one its standalone operator demonstrates
    // (normalized-hash keepers = q_dedup_normalized; banded-Jaccard
    // pairwise drop-to-lower-id = q_lsh_eval's truth set — the full
    // transitive-closure variant is q_dedup_clusters; 8-gram eval
    // collision = q_decontaminate; quality ≥ 0.5 ∧ lang_pred = lang =
    // q_training_pipeline), so the funnel is the integration proof
    // that the stages COMPOSE.
    //
    // Scale shape: one narrow corpus pass builds the per-doc flag
    // frame (persisted WITHOUT text, swap-released); near-dup pair
    // generation is the (lang, length-band) equi-join restricted to
    // exact-keepers only; decontamination broadcasts the eval gram
    // set; the report itself is three id-frame left joins + a single
    // conditional-count aggregate. Every shuffle is one a standalone
    // stage already pays — the funnel adds none.
    "q_curation_funnel" -> QueryDef(
      fn = (spark, dir) => {
        // widen once for all three text-heavy passes (score flags,
        // shingles, decontamination grams): the corpus fixture scans
        // as ONE task (ops/Parallelism; identity at scale)
        val all = graft.ops.Parallelism.widen(
          Tables(spark, dir, "documents"), col("doc_id"))
        val eval = all.filter(col("doc_id") < 10)
        val docs = all.filter(col("doc_id") >= 10)
        // flag inputs, text dropped before the persist (the cache
        // holds ids + small columns only; the text-bearing scans below
        // are separate narrow projections of the parquet)
        val sc = graft.ops.BuildOnce.swapPersist(lastFunnelFlags,
          PipelineOps.curationScore(docs)
            .select("doc_id", "lang", "content_hash", "quality",
              "lang_pred"))
        val keepers = sc.groupBy("content_hash")
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), lit(1).as("keeper"))
        val blocked = docs
          .join(keepers.select("doc_id"), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            distinctShingles(col("text")).as("sh"))
        val ndDropped = bandedPairs(blocked)
          .filter(jaccard(col("sh_a"), col("sh_b")) >= 0.6)
          .select(col("id_b").as("doc_id")).distinct()
          .select(col("doc_id"), lit(1).as("nd_drop"))
        val contaminated =
          decontaminate(docs.select(col("doc_id"), col("text")), eval, n = 8)
            .select(col("doc_id"), lit(1).as("contam"))
        sc.join(keepers, Seq("doc_id"), "left")
          .join(ndDropped, Seq("doc_id"), "left")
          .join(contaminated, Seq("doc_id"), "left")
          .agg(
            count(lit(1)).as("n_raw"),
            count(when(col("keeper") === 1, 1)).as("n_exact"),
            count(when(col("keeper") === 1 && col("nd_drop").isNull, 1))
              .as("n_neardup"),
            count(when(col("keeper") === 1 && col("nd_drop").isNull &&
              col("contam").isNull, 1)).as("n_clean"),
            count(when(col("keeper") === 1 && col("nd_drop").isNull &&
              col("contam").isNull && col("quality") >= 0.5 &&
              col("lang_pred") === col("lang"), 1)).as("n_final"))
      },
      oracle = Some(s"""
        |WITH corpus AS (
        |  SELECT doc_id, text, lang, n_chars FROM documents
        |  WHERE doc_id >= 10),
        |scored AS (
        |  SELECT doc_id, lang,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS content_hash,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |      + (1.0 - least(CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) * 10.0, 1.0)) * 0.3
        |      + least(CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(enStop)}))) AS DOUBLE) / len(string_split_regex(text, '\\s+')) * 5.0, 1.0) * 0.3
        |      AS quality,
        |    CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
        |         WHEN len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(enStop)}))) >= len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(esStop)})))
        |          AND len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(enStop)}))) >= len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(frStop)})))
        |          AND len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(enStop)}))) >= len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(deStop)}))) THEN 'en'
        |         WHEN len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(esStop)}))) >= len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(frStop)})))
        |          AND len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(esStop)}))) >= len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(deStop)}))) THEN 'es'
        |         WHEN len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(frStop)}))) >= len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSqlPub(deStop)}))) THEN 'fr'
        |         ELSE 'de' END AS lang_pred
        |  FROM corpus),
        |keepers AS (
        |  SELECT MIN(doc_id) AS doc_id FROM scored GROUP BY content_hash),
        |sh AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_distinct(list_transform(
        |      generate_series(0, greatest(len(toks) - 3, 0)),
        |      i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
        |  FROM (SELECT doc_id, lang, n_chars,
        |          string_split_regex(text, '\\s+') AS toks
        |        FROM corpus
        |        WHERE doc_id IN (SELECT doc_id FROM keepers))),
        |nd_drop AS (
        |  SELECT DISTINCT b.doc_id FROM sh a JOIN sh b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |   AND abs(a.n_chars - b.n_chars) <= 60
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
        |eval_grams AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(list_transform(
        |      generate_series(0, greatest(len(toks) - 8, 0)),
        |      i -> array_to_string(toks[i+1:i+8], ' '))) AS g
        |    FROM (SELECT string_split_regex(text, '\\s+') AS toks
        |          FROM documents WHERE doc_id < 10))),
        |contam AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(0, greatest(len(toks) - 8, 0)),
        |      i -> array_to_string(toks[i+1:i+8], ' '))) AS g
        |    FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
        |          FROM corpus))
        |  WHERE g IN (SELECT g FROM eval_grams))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_raw,
        |  CAST(COUNT(k.doc_id) AS BIGINT) AS n_exact,
        |  CAST(COUNT(CASE WHEN k.doc_id IS NOT NULL
        |    AND nd.doc_id IS NULL THEN 1 END) AS BIGINT) AS n_neardup,
        |  CAST(COUNT(CASE WHEN k.doc_id IS NOT NULL AND nd.doc_id IS NULL
        |    AND ct.doc_id IS NULL THEN 1 END) AS BIGINT) AS n_clean,
        |  CAST(COUNT(CASE WHEN k.doc_id IS NOT NULL AND nd.doc_id IS NULL
        |    AND ct.doc_id IS NULL AND s.quality >= 0.5
        |    AND s.lang_pred = s.lang THEN 1 END) AS BIGINT) AS n_final
        |FROM scored s
        |LEFT JOIN keepers k ON s.doc_id = k.doc_id
        |LEFT JOIN nd_drop nd ON s.doc_id = nd.doc_id
        |LEFT JOIN contam ct ON s.doc_id = ct.doc_id""".stripMargin),
      bench = true) // the composed pipeline is the cost users feel
  )

  /** q_curation_funnel's per-doc flag-input frame (ids + small
    * columns, text dropped) — two consumers; swap-release bounds the
    * cache at one live copy across invocations. */
  private val lastFunnelFlags =
    graft.ops.BuildOnce.swapRef()

  /** The canonical from-scratch orders><lineitem join — ONE definition
    * shared by q_join_view's oracle shape, q_joinview_served's
    * registered view, and the served query itself (exact-shape
    * matching means the registered and candidate frames must be built
    * by the same code path). */
  private[graft] def ordersLineitemJoin(spark: SparkSession,
      dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    val line = Tables(spark, dir, "lineitem")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    orders.join(line, "o_orderkey")
      .select(col("o_orderkey"), col("l_linenumber"), col("o_custkey"),
        col("o_orderstatus"), col("l_quantity"), col("l_extendedprice"))
  }

  /** The build-once incrementally-built join view. Orders split by
    * KEY parity, lineitems by LINENUMBER parity — orthogonal splits,
    * so batch 1 exercises dA x dB (even orders meet their
    * odd-numbered lines) and batch 2 exercises all three delta terms
    * (dA x B_old, A_old x dB, dA x dB all non-empty). */
  private[graft] def joinViewFor(spark: SparkSession, dir: String): String =
    graft.ops.BuildOnce.dir("join_view", spark,
        Tables.paths(dir, "orders", "lineitem")) { base =>
      val orders = Tables(spark, dir, "orders")
      val line = Tables(spark, dir, "lineitem")
        .withColumnRenamed("l_orderkey", "o_orderkey")
      graft.ops.JoinView.applyDelta(spark, base, "o_orderkey",
        orders.filter(col("o_orderkey") % 2 === 0),
        line.filter(col("l_linenumber") % 2 === 1), "b1")
      graft.ops.JoinView.applyDelta(spark, base, "o_orderkey",
        orders.filter(col("o_orderkey") % 2 === 1),
        line.filter(col("l_linenumber") % 2 === 0), "b2")
    }

  private def listSqlPub(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString(", ")
}
