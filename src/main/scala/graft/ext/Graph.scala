package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import org.apache.spark.storage.StorageLevel

import graft.{QueryDef, QueryModule, Tables}
import graft.ops.SparseMatVec

/** Iterative graph ranking over relationship graphs a warehouse
  * already holds (entity importance for curation weighting — e.g.
  * rank web domains by their link graph before sampling a pretraining
  * mix). Companion to [[PipelineOps.connectedComponents]]: components
  * answer "which rows are the same thing", ranking answers "which
  * things matter most".
  */
object GraphOps {

  /** Weighted PageRank in EXACT fixed-point integer arithmetic —
    * power iteration with damping 0.85, every quantity a BIGINT so
    * any engine replays the identical ranks (double summation is
    * order-sensitive and would never hash-match across engines;
    * integer arithmetic commutes).
    *
    * Semantics per iteration, all integer ops:
    *   contribution along edge e=(u,v,w) = (pr(u) * w) div out_w(u)
    *   pr'(v) = t(v) + (85 * sum_contrib(v)) div 100
    * where the teleport vector t places the 15% restart mass:
    *   - no `seeds` (global PageRank): t(v) = scale*15/100 for every
    *     node, from pr_0 = scale;
    *   - `seeds` (personalized PageRank, "relevance to this segment":
    *     rank suppliers for one market, documents near a trusted seed
    *     corpus): t(v) = (15·scale·n_nodes) div (100·|S|) on the seed
    *     set S and 0 elsewhere, from pr_0 = t — so the total mass
    *     matches the global n·scale and the two rankings are directly
    *     comparable. `seeds` is a frame with a `node` column; keys
    *     that are not nodes are dropped before the split (the mass
    *     stays conserved), and an empty remainder fails.
    *
    * Truncation: each `div` rounds toward zero, so a node's out-mass
    * can lose up to out_degree ulps per round — at scale=1e9 that is
    * a 1e-9-relative artifact, far below any ranking decision, and
    * identical in every engine (determinism is the point; doubles
    * would diverge engine-to-engine instead).
    *
    * Overflow bound: pr(u) ≤ n_nodes*scale and the per-edge product
    * pr(u)*w must stay under 2^63 — with scale=1e9 that holds to
    * ~10^9 nodes × weight 8, comfortably past a web-scale domain
    * graph (document the bound, don't discover it in production).
    * Seeds concentrate the mass near them but never past n·scale, so
    * the same bound holds. Past it, both regimes throw (ANSI
    * arithmetic in the frames, `Math.multiplyExact`/`addExact` in the
    * kernel), never wrap.
    *
    * Scale shape: the edge frame is cached for the call, and ONE
    * bounded collect — the out-weight aggregate, `limit(broadcastNodes
    * + 1)` — is both the node dictionary and the regime gate:
    *   - node set ≤ `broadcastNodes` (the common curation case —
    *     entities are few, edges many): the dense-vector kernel
    *     ([[graft.ops.SparseMatVec]]). The edges are laid out once by
    *     destination index, and each iteration is ONE shuffle-free
    *     job: the rank vector ships as a broadcast `long[]`, each task
    *     returns the contribution sums of its own destination range,
    *     and the driver collects exactly n longs (the footprint of the
    *     broadcast the planner would build anyway) and applies the
    *     damping and the teleport vector (a seeded call first collects
    *     its seeds that are nodes, at most n keys). The ranks come
    *     back as a frame built on the executors from a broadcast.
    *     A null node key runs on the frames instead (their join
    *     semantics for nulls are the contract).
    *   - larger graphs: co-partitioned frames. The node list (out-weight
    *     and teleport per node) and the edges hash-partitioned on `src`
    *     with their source's node row attached are each cut ONCE (an
    *     eager localCheckpoint), so every iteration's join reuses the
    *     edge layout and only the node-sized sums move.
    *   The default threshold is measurement-backed: at the sf10 probe
    *   (1.6M nodes, 110M edges) the co-partitioned regime's steady
    *   state ran 23.6 s vs 35–47 s for per-iteration 1.6M-row
    *   broadcasts, while at sf1 (160k nodes) broadcast wins — so the
    *   crossover sits below 1.6M and the default is 1M.
    *
    * The call keeps nothing after it returns, in either regime: the
    * kernel's ranks are broadcast-backed, and the co-partitioned ranks
    * are the call's own eager localCheckpoint (every other frame it
    * cut is released before it returns; `BuildOnce.releaseFrame` on
    * the result frees that one). No module state is touched, so
    * concurrent callers are safe.
    *
    * Dangling nodes: the node set is derived from edge SOURCES, so
    * callers passing both edge directions (the undirected/bipartite
    * case, like `q_pagerank`) have none by construction; for a truly
    * directed graph, redistribute or drop dangling mass upstream.
    * Edges into destination-only nodes still count in their source's
    * out-weight; their contributions leave the graph.
    *
    * @param edges (src, dst, w) directed weighted edges
    * @param seeds the personalization set (a `node` column), if any
    * @return (node, pr) fixed-point ranks, pr ≈ rank × scale
    */
  def pageRank(edges: DataFrame, iters: Int,
      scale: Long = 1000000000L, broadcastNodes: Long = 1000000L,
      seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters $iters")
    val sel = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    SparseMatVec.tagged(edges.sparkSession.sparkContext, "graft.graph.pagerank") {
      withCached(sel) { e =>
        val dict = e.groupBy("src").agg(sum(col("w")).as("ow"))
          .limit(gateRows(broadcastNodes, 1)).collect()
        if (dict.length <= broadcastNodes && !dict.exists(_.isNullAt(0)))
          pageRankKernel(e, dict, seeds, iters, scale)
        else pageRankCopartitioned(e, seeds, iters, scale)
      }
    }
  }

  /** [[pageRank]]'s node-bounded regime: `dict` holds every source
    * with its out-weight. */
  private def pageRankKernel(e: DataFrame, dict: Array[Row],
      seeds: Option[DataFrame], iters: Int, scale: Long): DataFrame = {
    val keys = dict.map(_.get(0))
    val ow = dict.map(r => if (r.isNullAt(1)) 0L else r.getLong(1))
    val index = indexOf(keys)
    // the teleport vector t and the starting ranks (a seeded call
    // starts from t)
    val (t, pr0) = seeds match {
      case None =>
        (Array.fill(keys.length)(scale * 15L / 100L), Array.fill(keys.length)(scale))
      case Some(s) =>
        val in = seedNodes(s, e).collect().map(r => index.get(r.get(0)).intValue)
        val tv = seedTeleport(scale, keys.length, in.length)
        val t = new Array[Long](keys.length)
        in.foreach(t(_) = tv)
        (t, t)
    }
    // one matrix: rows = destinations, columns = sources; a null-weight
    // edge contributes nothing, as its null contribution would not sum
    val layout = SparseMatVec.layout(e.rdd, Seq(keys.length), (index, ow)) {
      case ((index, ow), r, emit) =>
        val d = index.get(r.get(1))
        if (d != null && !r.isNullAt(2)) {
          val s: Int = index.get(r.get(0))
          emit(0, d, s, r.getLong(2), ow(s))
        }
    }
    try {
      var pr = pr0
      for (_ <- 1 to iters) {
        val s = layout.multiply(0, pr)
        pr = Array.tabulate(s.length)(v =>
          Math.addExact(t(v), Math.multiplyExact(85L, s(v)) / 100L))
      }
      SparseMatVec.frame(e.sparkSession, e.schema("src").copy(name = "node"),
        StructField("pr", LongType), keys, pr)
    } finally layout.release()
  }

  /** [[pageRank]]'s co-partitioned regime over the cached edge frame. */
  private def pageRankCopartitioned(e: DataFrame, seeds: Option[DataFrame],
      iters: Int, scale: Long): DataFrame = {
    val nShuffle = e.sparkSession.sessionState.conf.numShufflePartitions
    val cuts = new Cuts
    try {
      // out-weights — exactly one row per node that HAS out-edges, which
      // (sources define the node set) IS the node list — with the
      // teleport and the starting rank of each node (a seeded call
      // flags its seeds on the list and starts from t)
      val outw = e.groupBy("src").agg(sum(col("w")).as("ow"))
      val (nodes, t, pr0) = seeds match {
        case None => (cuts(outw), lit(scale * 15L / 100L), lit(scale))
        case Some(s) =>
          val nodes = cuts(outw.join(
            seedNodes(s, outw).withColumn("seed", lit(true)), Seq("src"), "left"))
          val c = nodes.agg(count(lit(1)), count(col("seed"))).head()
          val t = when(col("seed"), lit(seedTeleport(scale, c.getLong(0), c.getLong(1))))
            .otherwise(lit(0L))
          (nodes, t, t)
      }
      val nodeRows = nodes.select(col("src"), col("ow"), t.as("t"), pr0.as("pr0"))
      // every edge carries its source's out-weight, teleport and pr_0:
      // attached ONCE, pinned to hash(src) (an explicit count, so AQE
      // cannot coalesce the layout) — every per-iteration join reuses
      // that layout, where a per-iteration attach would be a full
      // shuffle each
      val attached = cuts(e.repartition(nShuffle, col("src")).join(nodeRows, "src"))
      // pr as a pure BIGINT function of the previous contribution sum
      // (absent sum ⇒ 0); `div`/left-assoc precedence matches the doc'd
      // recurrence exactly — never Column./ (double division)
      val prSql = "(t + 85 * coalesce(s, CAST(0 AS BIGINT)) div 100)"
      // iterate on the CONTRIBUTION SUMS, not the rank vector: pr_i is a
      // pure function of s_{i-1}, so the per-iteration plan is a single
      // pass over the attached edges — left join the previous sums onto
      // the edge list (sums for dst-only nodes simply never match a
      // src), emit the damped contribution, re-aggregate. The ranks
      // reconstitute ONCE, at the end, against the node list to
      // reinstate zero-in-degree nodes.
      var contrib: Option[DataFrame] = None
      for (_ <- 1 to iters) {
        val joined = contrib match {
          case None => attached.select(col("dst"), expr("pr0 * w div ow").as("c"))
          case Some(prev) =>
            attached.join(prev, attached("src") === prev("node"), "left")
              .select(col("dst"), expr(s"$prSql * w div ow").as("c"))
        }
        contrib = Some(joined.groupBy(col("dst").as("node"))
          .agg(sum(col("c")).as("s")))
      }
      nodeRows.select(col("src").as("node"), col("t"))
        .join(contrib.get, Seq("node"), "left")
        .select(col("node"), expr(prSql).as("pr"))
        .localCheckpoint(true)
    } finally cuts.release()
  }

  /** The keys of `seeds`' `node` column that are sources of `edges`,
    * each once, as a `src` column of the sources' type. */
  private def seedNodes(seeds: DataFrame, edges: DataFrame): DataFrame =
    seeds.select(col("node").cast(edges.schema("src").dataType).as("src"))
      .distinct().join(edges.select("src"), Seq("src"), "left_semi")

  /** A seed's teleport: (15·scale·n) div (100·|S|), checked so the
    * seeds' total mass stays inside the BIGINT budget. */
  private def seedTeleport(scale: Long, n: Long, nSeeds: Long): Long = {
    require(nSeeds > 0, "pageRank: empty seed set")
    val t = BigInt(15) * scale * n / (BigInt(100) * nSeeds)
    require(t * nSeeds < BigInt(Long.MaxValue) / 16,
      s"teleport mass overflows the BIGINT budget: $t x $nSeeds")
    t.toLong
  }

  /** The frames one co-partitioned call cuts for itself: each is an
    * eager localCheckpoint, owned by the call (never a CacheManager
    * entry another call could share or release), and all are released
    * when the call ends. */
  private final class Cuts {
    private var held = List.empty[DataFrame]
    def apply(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      held ::= c
      c
    }
    def release(): Unit = held.foreach(graft.ops.BuildOnce.releaseFrame(_))
  }

  /** Rows a gate collect may bring back for `sides` key sets of at
    * most `bound` keys each: one more than fits, so a full answer
    * proves the set is over the bound. */
  private def gateRows(bound: Long, sides: Int): Int =
    (math.min(math.max(bound, 0L), (Int.MaxValue - 1L) / sides) * sides + 1).toInt

  /** Key → dense index, for the kernel's executors. */
  private def indexOf(keys: Array[Any]): java.util.HashMap[Any, Integer] = {
    val m = new java.util.HashMap[Any, Integer](keys.length * 2)
    keys.indices.foreach(i => m.put(keys(i), i))
    m
  }

  /** Runs `body` over `df` persisted for the call: the caller's
    * edge-building subtree (typically a fact join + pair aggregation)
    * is the expensive part, and both regimes read the edges more than
    * once. A frame already cached (by the caller, or a concurrent
    * call) is left as found. */
  private def withCached[T](df: DataFrame)(body: DataFrame => T): T = {
    val own = df.storageLevel == StorageLevel.NONE
    if (own) df.persist()
    try body(df) finally if (own) df.unpersist()
  }

  /** Synchronous label propagation — community detection by iterated
    * weighted majority vote: each round, every node adopts the label
    * carrying the greatest total incident edge weight (ties → the
    * SMALLEST label, making every round a deterministic pure function
    * of the previous labeling — both engines replay it exactly;
    * async/randomized LPA variants converge faster but are
    * irreproducible by construction). Fixed `iters`, so the whole run
    * is one declarative plan, like [[pageRank]].
    *
    * Scale shape per round: one equi-join of the node-sized label
    * frame against the edge list on `src` (label side broadcast — the
    * curation case where nodes ≪ edges; drop the hint for truly
    * node-heavy graphs), one partial-agg'd (dst, label) weight
    * rollup, one per-dst argmax window (parallel across nodes). The
    * edge frame is cached once (swap-release slot, one live copy) and
    * never moves.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters $iters")
    // cache pinned to hash(dst): the label side broadcasts, so the
    // only distribution requirements per round are groupBy(dst,label)
    // and groupBy(dst) — both satisfied by the dst layout (a hash
    // partitioning on a subset of the grouping keys satisfies the
    // clustered distribution), so a round is exchange-free. Callers
    // sharing this cache must build the IDENTICAL canonical plan
    // (see lpEdgeFrame).
    val e = graft.ops.BuildOnce.swapPersist(lastLpEdges,
      lpEdgeFrame(edges))
    // sources define the node set (bidirectional callers have no
    // dangling nodes — the pageRank convention); initial label = self
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      val votes = e.join(broadcast(labels), e("src") === labels("node"))
        .groupBy(col("dst"), col("label"))
        .agg(sum(col("w")).as("sw"))
      // argmax as a partial-aggregable struct max (lexicographic:
      // biggest weight, then biggest −label = SMALLEST label) — a
      // per-dst window would sort-shuffle the vote frame instead;
      // labels are nonneg node ids so the negation never overflows
      labels = votes
        .groupBy(col("dst").as("node"))
        .agg(max(struct(col("sw"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
    }
    labels
  }

  private val lastLpEdges =
    graft.ops.BuildOnce.swapRef()

  /** The canonical cached-edge plan [[labelPropagation]] builds —
    * public to consumers that re-read the edge list (q_modularity)
    * so their plan canonicalizes to the SAME CacheManager entry;
    * a differently-shaped re-read would re-execute the caller's
    * whole edge-building subtree instead of hitting the cache. */
  def lpEdgeFrame(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .repartition(
        edges.sparkSession.sessionState.conf.numShufflePartitions,
        col("dst"))

  /** HITS hubs/authorities in EXACT fixed-point integers —
    * Kleinberg's mutual-reinforcement power iteration (a(v) =
    * Σ_{(u,v,w)} h(u)·w, then h(u) = Σ_{(u,v,w)} a(v)·w) with L∞
    * (max) normalization replacing the classical L2: `x·scale div
    * max(x)` is pure integer arithmetic, so every engine replays
    * identical scores, where an L2 sqrt would be engine-dependent
    * doubles. Any positive per-iteration rescale preserves the
    * ranking; L∞ additionally pins each side's leader at exactly
    * `scale`, which makes the scores directly readable as "share of
    * the leader". Hubs score the edge sources, authorities the edge
    * destinations; the two key columns may have different types.
    *
    * On a directed purchase graph (customer → supplier), hubs score
    * customers whose spend concentrates on authoritative suppliers
    * and authorities score suppliers endorsed by strong hubs — the
    * same mutual-endorsement structure a curation pipeline uses to
    * rank sources against documents (a source is trustworthy if it
    * yields quality documents, and vice versa). Contrast with
    * [[pageRank]]: HITS is bipartite-natural (two distinct score
    * spaces) and normalization-relative, PageRank is a single
    * stationary distribution.
    *
    * Overflow bound: after each rescale h,a ≤ scale, so a raw sum is
    * bounded by scale · (max per-node incident WEIGHT); the rescale
    * product itself is widened to 128 bits (DECIMAL(38,0) in the
    * frames) before the ×scale, so the only 64-bit budget is
    * scale·W ≤ 2^63 — at scale=1e6 that admits ~9·10^12 incident
    * weight per node (raise/lower the dial per graph; the
    * [[pageRank]] bound discussion applies). Past it, both regimes
    * throw.
    *
    * Scale shape: the edge frame is cached for the call, and ONE
    * bounded collect of the src and dst key sets (at most
    * 2·`broadcastNodes` + 1 keys) is both the node dictionary and an
    * exact regime gate:
    *   - both key sets ≤ `broadcastNodes` (entity-bounded node sets —
    *     the curation case): the dense-vector kernel
    *     ([[graft.ops.SparseMatVec]]). The edges are laid out once in
    *     two layouts, by dst index for the a-step and by src index for
    *     the h-step; each half-round is ONE shuffle-free job that
    *     broadcasts the score vector, collects exactly one long per
    *     node (the footprint of the broadcast the planner would build
    *     anyway) and rescales on the driver. The scores come back as
    *     frames built on the executors from a broadcast. A null key
    *     or weight runs on the frames instead (their null semantics
    *     are the contract).
    *   - larger graphs: co-partitioned frames over two edge hash
    *     layouts (by src and by dst — the iteration alternates keys,
    *     so a single layout would re-shuffle the edges every
    *     half-round); each layout serves its half-round's JOIN key,
    *     only the node-sized score frames move per join, and each
    *     half-round is lineage-cut (see rescale). The layouts and the
    *     cuts are the call's own eager localCheckpoints; a round's
    *     cuts are released once the next round is cut, and the rest
    *     when the call returns.
    *
    * The call keeps nothing after it returns, in either regime: the
    * kernel's scores are broadcast-backed, and the co-partitioned
    * scores are the call's own eager localCheckpoints
    * (`BuildOnce.releaseFrame` on each frees it). No module state is
    * touched, so concurrent callers are safe, and `rounds` has no
    * upper limit.
    *
    * @param edges (src, dst, w) directed weighted edges
    * @return (hubs (node, h), authorities (node, a)) fixed-point
    *         scores after `rounds` full a-then-h rounds
    */
  def hits(edges: DataFrame, rounds: Int, scale: Long = 1000000L,
      broadcastNodes: Long = 1000000L): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds $rounds")
    val sel = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    SparseMatVec.tagged(edges.sparkSession.sparkContext, "graft.graph.hits") {
      withCached(sel) { e =>
        // side 0: a src key; side 1: a dst key; side 2: a dst key of a
        // null-weight edge (sends the call to the frames)
        val typed = (c: String) => lit(null).cast(e.schema(c).dataType)
        val limit = gateRows(broadcastNodes, 2)
        val keys = e.select(explode(array(
            struct(lit(0).as("side"), col("src").as("s"), typed("dst").as("d")),
            struct(when(col("w").isNull, lit(2)).otherwise(lit(1)).as("side"),
              typed("src").as("s"), col("dst").as("d")))).as("k"))
          .select("k.*").distinct().limit(limit).collect()
        val srcKeys = keys.filter(_.getInt(0) == 0).map(_.get(1))
        val dstKeys = keys.filter(_.getInt(0) == 1).map(_.get(2))
        if (keys.length < limit && !keys.exists(_.getInt(0) == 2) &&
            srcKeys.length <= broadcastNodes && dstKeys.length <= broadcastNodes &&
            !srcKeys.contains(null) && !dstKeys.contains(null))
          hitsKernel(e, srcKeys, dstKeys, rounds, scale)
        else hitsCopartitioned(e, rounds, scale)
      }
    }
  }

  /** [[hits]]'s node-bounded regime over the exact key sets. */
  private def hitsKernel(e: DataFrame, srcKeys: Array[Any], dstKeys: Array[Any],
      rounds: Int, scale: Long): (DataFrame, DataFrame) = {
    // matrix 0 (a-step): rows = dst, columns = src; matrix 1 (h-step)
    // its transpose
    val layout = SparseMatVec.layout(e.rdd, Seq(dstKeys.length, srcKeys.length),
        (indexOf(srcKeys), indexOf(dstKeys))) {
      case ((srcIndex, dstIndex), r, emit) =>
        val s: Int = srcIndex.get(r.get(0))
        val d: Int = dstIndex.get(r.get(1))
        emit(0, d, s, r.getLong(2), 1L)
        emit(1, s, d, r.getLong(2), 1L)
    }
    try {
      var h = Array.fill(srcKeys.length)(scale)
      var a = Array.empty[Long]
      for (_ <- 1 to rounds) {
        a = linfRescale(layout.multiply(0, h), scale)
        h = linfRescale(layout.multiply(1, a), scale)
      }
      (SparseMatVec.frame(e.sparkSession, e.schema("src").copy(name = "node"),
        StructField("h", LongType), srcKeys, h),
        SparseMatVec.frame(e.sparkSession, e.schema("dst").copy(name = "node"),
          StructField("a", LongType), dstKeys, a))
    } finally layout.release()
  }

  /** x·scale div max(x) per entry, the product in 128 bits when it
    * does not fit a long (the frames' DECIMAL(38,0) widening). */
  private def linfRescale(x: Array[Long], scale: Long): Array[Long] =
    if (x.isEmpty) x
    else {
      val mx = x.max
      x.map { v =>
        val lo = v * scale
        if (Math.multiplyHigh(v, scale) == lo >> 63) lo / mx
        else java.math.BigInteger.valueOf(v).multiply(java.math.BigInteger.valueOf(scale))
          .divide(java.math.BigInteger.valueOf(mx)).longValueExact()
      }
    }

  /** [[hits]]'s co-partitioned regime over the cached edge frame. */
  private def hitsCopartitioned(sel: DataFrame, rounds: Int,
      scale: Long): (DataFrame, DataFrame) = {
    val nShuffle = sel.sparkSession.sessionState.conf.numShufflePartitions
    val cuts = new Cuts
    try {
      // two hash layouts, so the raw edge frame needs no cache of its
      // own past the call. The explicit partition count keeps AQE from
      // advisory-coalescing a layout (a layout coalesced to one task
      // would serialize every half-round's scan).
      val byDst = cuts(sel.repartition(nShuffle, col("dst")))
      val bySrc = cuts(byDst.repartition(nShuffle, col("src")))
      // the score side SHUFFLES, so each layout serves its step's JOIN
      // key: bySrc drives the a-step (join hubs ON src, group BY dst),
      // byDst the h-step (join authorities ON dst, group BY src); the
      // agg exchange is the iteration's one shuffle.
      // x·scale div max(x), max crossed in as a broadcast 1-row frame;
      // DECIMAL(38,0) widening makes the product wrap-proof (see bound).
      // Every pre-rescale frame is LINEAGE-CUT: the max aggregate and
      // the crossJoin both reference it, so uncut, every half-round
      // would DOUBLE its predecessor's appearances in the logical plan
      // and the driver's optimize/codegen work would grow 2^(2·rounds)
      // (measured: 93 s uncached, 17 s persisted-only, ~2 s cut, at
      // sf0.1, rounds = 3; all ~3 s of actual executor work). The cut
      // per half-round is a node-sized job — the
      // BFS/connectedComponents per-round pattern.
      def rescale(raw: DataFrame, c: String): DataFrame = {
        val m = raw.agg(max(col(c)).as("mx"))
        raw.crossJoin(broadcast(m))
          .select(col("node"),
            expr(s"cast($c as decimal(38,0)) * $scale div mx").as(c))
      }
      // initial hubs from the SRC-pinned layout: hash(src) satisfies the
      // distinct's clustering, so h₀ plans without an exchange
      var h = bySrc.select(col("src").as("hn")).distinct()
        .withColumn("h", lit(scale))
      var a: DataFrame = null
      var previous = List.empty[DataFrame]
      for (_ <- 1 to rounds) {
        val aRaw = cuts(bySrc.join(h, col("src") === col("hn"))
          .groupBy(col("dst").as("node"))
          .agg(sum(expr("h * w")).as("a")))
        a = rescale(aRaw, "a")
          .withColumnRenamed("node", "an")
          .withColumnRenamed("a", "a_")
        val hRaw = cuts(byDst.join(a, col("dst") === col("an"))
          .groupBy(col("src").as("node"))
          .agg(sum(expr("a_ * w")).as("h")))
        h = rescale(hRaw, "h").withColumnRenamed("node", "hn")
        // this round is cut, so nothing reads the last round's frames
        previous.foreach(graft.ops.BuildOnce.releaseFrame(_))
        previous = List(aRaw, hRaw)
      }
      (h.select(col("hn").as("node"), col("h")).localCheckpoint(true),
        a.select(col("an").as("node"), col("a_").as("a")).localCheckpoint(true))
    } finally cuts.release()
  }

  /** BFS hop distances from `source` over directed edges (src, dst),
    * capped at `maxHops` — frontier-style Pregel traversal: each round
    * expands ONLY the nodes discovered last round (one equi-join),
    * anti-joins the already-visited set, and unions the new layer in.
    * All-integer semantics, so any engine replays it exactly.
    *
    * Scale shape: round r moves |frontier_r|·avg_degree rows through
    * one shuffle — the textbook distributed BFS; the visited set is
    * only ever the build side of an anti-join (never collected). Each
    * round's frontier is localCheckpoint'd: dist_r's lineage would
    * otherwise nest r copies of the join tree (the connectedComponents
    * pattern; eager — BFS reads every frontier exactly once more).
    */
  def bfsHops(edges: DataFrame, source: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops $maxHops")
    val e = edges.select(col("src"), col("dst"))
    var dist = e.sparkSession.range(1)
      .select(lit(source).as("node"), lit(0L).as("d"))
    var frontier = dist
    for (r <- 1 to maxHops) {
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node"), lit(r.toLong).as("d"))
        .distinct()
        .join(dist, Seq("node"), "left_anti")
        .localCheckpoint()
      dist = dist.union(next)
      frontier = next
    }
    dist
  }

  /** Bounded single-source shortest paths — `rounds` synchronous
    * Bellman–Ford relaxations over weighted directed edges (`src`,
    * `dst`, BIGINT `w` ≥ 0): each round extends every settled node
    * through its out-edges and keeps the MIN tentative distance per
    * node. After r rounds every shortest path of ≤ r edges is exact
    * (the true SSSP is the fixpoint; the FIXED round count is the
    * [[bfsHops]]/[[kCorePeel]] discipline — one declarative plan both
    * engines replay exactly, unrolled in SQL without recursion).
    * Unlike [[bfsHops]] this is the min-PLUS semiring: the cheapest
    * route may be LONGER in hops than the hop-minimal one (`GraphSpec`
    * forces that case). Scale shape per round: one equi-join on the
    * frontier key + one partial-agg'd min — never all-pairs; each
    * round localCheckpoints (eager) so round r's lineage doesn't nest
    * r copies of the join tree. Integer weights keep every distance a
    * hash-checkable BIGINT.
    */
  def ssspBounded(edges: DataFrame, source: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds")
    val e = edges.select(col("src"), col("dst"), col("w"))
    var dist = e.sparkSession.range(1)
      .select(lit(source).as("node"), lit(0L).as("d"))
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(e, dist("node") === e("src"))
        .select(e("dst").as("node"), (dist("d") + e("w")).as("d"))
      dist = dist.union(relaxed)
        .groupBy("node").agg(min("d").as("d"))
        .localCheckpoint(true)
    }
    dist
  }

  /** Bounded k-core peeling — `rounds` synchronous rounds of "drop
    * every node with fewer than `k` distinct neighbors, then drop
    * the edges that lost an endpoint". The true k-core is this
    * peel's fixpoint; a FIXED round count keeps the whole run one
    * declarative plan both engines replay exactly (the
    * [[labelPropagation]] discipline — an open-ended loop would be
    * irreproducible in SQL without recursion), and on bounded-degree
    * graphs (kNN: degree ≤ 2·topk) cascades are shallow, so small
    * `rounds` reaches the fixpoint in practice (`GraphSpec` asserts
    * it on a crafted clique + pendant-chain graph).
    *
    * `edges` must carry BOTH directions of each undirected edge,
    * deduplicated — degree is then a plain per-src count. Scale
    * shape per round: one partial-agg'd degree count + two semi-joins
    * on the shrinking edge list; each round localCheckpoints (eager)
    * so round r's lineage doesn't nest r copies of the join tree
    * (the [[bfsHops]]/connectedComponents pattern). Returns the
    * surviving (node, deg) frame after the final round.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"k=$k rounds=$rounds")
    var e = edges.select(col("src"), col("dst"))
    for (_ <- 1 to rounds) {
      val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("src")
      e = e.join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint(true)
    }
    e.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
  }
}

object GraphQueries extends QueryModule {

  /** Shared SQL for one oracle label-propagation round (unrolled). */
  private def lpCte(prev: String, cur: String): String = s"""
    |$cur AS (
    |  SELECT node, label FROM (
    |    SELECT v.dst AS node, v.label,
    |      ROW_NUMBER() OVER (PARTITION BY v.dst
    |                         ORDER BY v.sw DESC, v.label) AS rn
    |    FROM (SELECT e.dst, r.label, CAST(SUM(e.w) AS BIGINT) AS sw
    |          FROM $prev r JOIN edges e ON r.node = e.src
    |          GROUP BY e.dst, r.label) v)
    |  WHERE rn = 1)""".stripMargin

  /** Shared SQL for one oracle power-iteration step (unrolled —
    * fixed iteration count means the oracle needs no recursion). */
  private def iterCte(prev: String, cur: String): String = s"""
    |$cur AS (
    |  SELECT n.node,
    |    CAST(150000000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
    |  FROM nodes n LEFT JOIN (
    |    SELECT e.dst AS node, CAST(SUM((r.pr * e.w) // o.ow) AS BIGINT) AS s
    |    FROM $prev r JOIN edges e ON r.node = e.src JOIN outw o ON o.src = e.src
    |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin

  /** One full HITS round (authorities then hubs) as unrolled oracle
    * CTEs — raw sums then the L∞ rescale, the ×scale widened to
    * HUGEINT exactly as the engine widens to DECIMAL(38,0). Every CTE
    * is MATERIALIZED: the max() scalar subquery references its own
    * round's raw frame a second time, and DuckDB re-evaluates plain
    * CTEs per reference (the documented exponential-chain lesson). */
  private def hitsCte(prev: Int, cur: Int): String = s"""
    |a${cur}r AS MATERIALIZED (
    |  SELECT e.dst AS node, CAST(SUM(h.h * e.w) AS BIGINT) AS ar
    |  FROM h$prev h JOIN edges e ON h.node = e.src GROUP BY e.dst),
    |a$cur AS MATERIALIZED (
    |  SELECT node, CAST(CAST(ar AS HUGEINT) * 1000000
    |    // (SELECT MAX(ar) FROM a${cur}r) AS BIGINT) AS a
    |  FROM a${cur}r),
    |h${cur}r AS MATERIALIZED (
    |  SELECT e.src AS node, CAST(SUM(a.a * e.w) AS BIGINT) AS hr
    |  FROM a$cur a JOIN edges e ON a.node = e.dst GROUP BY e.src),
    |h$cur AS MATERIALIZED (
    |  SELECT node, CAST(CAST(hr AS HUGEINT) * 1000000
    |    // (SELECT MAX(hr) FROM h${cur}r) AS BIGINT) AS h
    |  FROM h${cur}r)""".stripMargin

  /** One personalized-PageRank iteration as a CTE: like [[iterCte]]
    * but the teleport is the node's own seed-dependent `t` from the
    * `nodes` CTE instead of the uniform constant. */
  // AS MATERIALIZED throughout — DuckDB inlines plain CTEs, so an
  // unrolled round chain re-evaluates every base frame per level
  // (the kcore/mmr lesson; measured here: the sf1 q_ppr oracle spilled
  // >70 GB and died on disk with plain CTEs, seconds materialized)
  private def pprCte(prev: String, cur: String): String = s"""
    |$cur AS MATERIALIZED (
    |  SELECT n.node,
    |    CAST(n.t + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
    |  FROM nodes n LEFT JOIN (
    |    SELECT e.dst AS node, CAST(SUM((r.pr * e.w) // o.ow) AS BIGINT) AS s
    |    FROM $prev r JOIN edges e ON r.node = e.src JOIN outw o ON o.src = e.src
    |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin

  /** The shared weighted bipartite order graph — integer node ids
    * (cust → 2k, supp → 2k+1), both directions via one generator pass
    * (a union of the join+agg subtree would execute it twice; Spark
    * does no CSE across union branches). ONE definition for pagerank /
    * label propagation / modularity: q_modularity reads the edge list
    * from labelPropagation's cache, which only works while their
    * canonical plans stay identical.
    *
    * The pair aggregation is repartition-FIRST: the (cust, supp) key is
    * near-unique (w̄ ≈ 1.1 lineitems per pair), so map-side partial
    * aggregation reduces almost nothing while serializing the whole
    * 550k-entry hash into the scan stage — whose parallelism is capped
    * by the file's row groups (3 tasks at sf0.1). The explicit exchange
    * on the group keys moves the same bytes the aggregation would
    * shuffle anyway, but runs the hash at full width (measured
    * 1.47 → 0.72 s at sf0.1). The explicit partition count keeps AQE
    * from advisory-coalescing the user shuffle back to one task. */
  private def orderGraphPairs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    // widen the 2-column lineitem projection before the join probe: a
    // single-row-group file scans as ONE task, serializing the 600k
    // broadcast-probe + partial-agg map side (ops/Parallelism; the
    // exchange moves 2 pruned longs per row and is an identity on a
    // healthily-split scan)
    val li = graft.ops.Parallelism.widen(
      Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")),
      col("l_orderkey"))
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("o_custkey"), col("l_suppkey"))
      .groupBy(col("o_custkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("w"))
      .select((col("o_custkey").cast("long") * 2).as("c"),
        (col("l_suppkey").cast("long") * 2 + 1).as("s"),
        col("w"))
  }

  private def orderGraphEdges(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    orderGraphPairs(spark, dir)
      .select(expr(
        "inline(array(struct(c AS src, s AS dst, w)," +
          " struct(s AS src, c AS dst, w)))"))

  override def defs: Seq[(String, QueryDef)] = Seq(

    // ---- PageRank over the customer–supplier order graph: an edge
    // (customer, supplier) weighted by how many lineitems connect
    // them, both directions included (bipartite random walk), 5 power
    // iterations in exact fixed-point arithmetic, top suppliers by
    // rank. The iterative-graph twin of the one-shot star join: rank
    // flows customer→supplier→customer, so a supplier scores high for
    // serving well-connected customers, not merely many of them.
    "q_pagerank" -> QueryDef(
      fn = (spark, dir) => {
        // INTEGER node ids through the iterations (cust → 2k,
        // supp → 2k+1): the ranks/contributions hash-join and
        // re-aggregate 5×, and long keys hash/compare/serialize far
        // cheaper than the "C123"/"S45" labels — which are purely
        // presentational, so they attach ONCE at the end. The rank
        // arithmetic is key-type-independent, and the output (label,
        // pr) is unchanged, so the string-keyed oracle still matches.
        GraphOps.pageRank(orderGraphEdges(spark, dir), iters = 5)
          .filter(col("node") % 2 === 1)
          .select(
            concat(lit("S"), shiftright(col("node"), 1).cast("string"))
              .as("node"),
            col("pr"))
          .orderBy(col("pr").desc, col("node"))
          .limit(25)
      },
      oracle = Some(s"""
        |WITH cs AS (
        |  SELECT 'C' || CAST(o.o_custkey AS VARCHAR) AS c,
        |         'S' || CAST(l.l_suppkey AS VARCHAR) AS s,
        |         CAST(COUNT(*) AS BIGINT) AS w
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |edges AS (
        |  SELECT c AS src, s AS dst, w FROM cs
        |  UNION ALL
        |  SELECT s AS src, c AS dst, w FROM cs),
        |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |it0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr FROM nodes),
        |${(0 until 5).map(i => iterCte(s"it$i", s"it${i + 1}").trim).mkString(",\n")}
        |SELECT node, pr FROM it5 WHERE node LIKE 'S%'
        |ORDER BY pr DESC, node LIMIT 25""".stripMargin),
      bench = true),

    // ---- HITS hubs & authorities over the DIRECTED purchase graph
    // (customer → supplier, single direction — the bipartite setup
    // HITS was built for, where q_pagerank's symmetrized random walk
    // deliberately erases the two-role structure): 3 exact
    // fixed-point rounds, each side's leader pinned at scale=1e6 by
    // the L∞ rescale, top-25 per role. A supplier is authoritative
    // for attracting spend from strong hubs; a customer is a strong
    // hub for concentrating spend on authoritative suppliers —
    // mutually, which is what separates HITS from a plain degree
    // rank. Ties in the top-k boundary break on the integer node id
    // (both engines order the same numbers); the emitted frame orders
    // by (kind, score desc, label) — unique since labels are unique
    // per kind.
    "q_hits" -> QueryDef(
      fn = (spark, dir) => {
        val (h, a) = GraphOps.hits(
          orderGraphPairs(spark, dir)
            .select(col("c").as("src"), col("s").as("dst"), col("w")),
          rounds = 3)
        val topA = a.orderBy(col("a").desc, col("node")).limit(25)
          .select(lit("auth").as("kind"),
            concat(lit("S"), shiftright(col("node"), 1).cast("string"))
              .as("label"),
            col("a").as("score"))
        val topH = h.orderBy(col("h").desc, col("node")).limit(25)
          .select(lit("hub").as("kind"),
            concat(lit("C"), shiftright(col("node"), 1).cast("string"))
              .as("label"),
            col("h").as("score"))
        topA.unionByName(topH)
          .orderBy(col("kind"), col("score").desc, col("label"))
      },
      oracle = Some(s"""
        |WITH cs AS MATERIALIZED (
        |  SELECT o.o_custkey AS c, l.l_suppkey AS s,
        |         CAST(COUNT(*) AS BIGINT) AS w
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |edges AS MATERIALIZED (
        |  SELECT c * 2 AS src, s * 2 + 1 AS dst, w FROM cs),
        |h0 AS (SELECT DISTINCT src AS node,
        |         CAST(1000000 AS BIGINT) AS h FROM edges),
        |${(0 until 3).map(i => hitsCte(i, i + 1).trim).mkString(",\n")},
        |ta AS (SELECT 'auth' AS kind,
        |         'S' || CAST(node // 2 AS VARCHAR) AS label, a AS score
        |       FROM a3 ORDER BY a DESC, node LIMIT 25),
        |th AS (SELECT 'hub' AS kind,
        |         'C' || CAST(node // 2 AS VARCHAR) AS label, h AS score
        |       FROM h3 ORDER BY h DESC, node LIMIT 25)
        |SELECT * FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
        |ORDER BY kind, score DESC, label""".stripMargin),
      bench = true), // the second iterative-graph bench entry: HITS
                     // exercises the alternating-key join regime
                     // q_pagerank's single-key iteration never hits

    // ---- PERSONALIZED PageRank from one market segment: teleport
    // restarts at NATION_7's customers, so the ranking answers "which
    // suppliers matter TO THIS SEGMENT" — the seed-relative relevance
    // question behind domain-targeted curation (rank documents near a
    // trusted seed corpus) that global PageRank structurally cannot
    // (it has no notion of 'near'). Same exact fixed-point integer
    // iteration; 4 rounds reach customer→supplier→customer→supplier.
    // Contrast with q_pagerank's global top-25 is the point of the
    // fixture: segment-heavy suppliers displace globally-popular ones.
    "q_ppr" -> QueryDef(
      fn = (spark, dir) => {
        val nation = Tables(spark, dir, "nation")
          .filter(col("n_name") === "NATION_7")
          .select(col("n_nationkey"))
        val seeds = Tables(spark, dir, "customer")
          .join(broadcast(nation),
            col("c_nationkey") === col("n_nationkey"))
          .select((col("c_custkey").cast("long") * 2).as("node"))
        GraphOps.pageRank(orderGraphEdges(spark, dir), iters = 4,
            seeds = Some(seeds))
          .filter(col("node") % 2 === 1)
          .select(
            concat(lit("S"), shiftright(col("node"), 1).cast("string"))
              .as("node"),
            col("pr"))
          .orderBy(col("pr").desc, col("node"))
          .limit(25)
      },
      oracle = Some(s"""
        |WITH cs AS MATERIALIZED (
        |  SELECT CAST(o.o_custkey AS BIGINT) * 2 AS c,
        |         CAST(l.l_suppkey AS BIGINT) * 2 + 1 AS s,
        |         CAST(COUNT(*) AS BIGINT) AS w
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |edges AS MATERIALIZED (
        |  SELECT c AS src, s AS dst, w FROM cs
        |  UNION ALL
        |  SELECT s AS src, c AS dst, w FROM cs),
        |outw AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
        |nodes0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
        |seeds AS MATERIALIZED (
        |  SELECT n.node FROM nodes0 n
        |  WHERE n.node IN (
        |    SELECT CAST(c_custkey AS BIGINT) * 2
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_7')),
        |consts AS (
        |  SELECT (CAST(15 AS BIGINT) * 1000000000
        |          * (SELECT COUNT(*) FROM nodes0))
        |         // (100 * (SELECT COUNT(*) FROM seeds)) AS t),
        |nodes AS MATERIALIZED (
        |  SELECT n.node,
        |    CASE WHEN s.node IS NOT NULL THEN (SELECT t FROM consts)
        |         ELSE CAST(0 AS BIGINT) END AS t
        |  FROM nodes0 n LEFT JOIN seeds s ON n.node = s.node),
        |it0 AS MATERIALIZED (SELECT node, t AS pr FROM nodes),
        |${(0 until 4).map(i => pprCte(s"it$i", s"it${i + 1}").trim).mkString(",\n")}
        |SELECT 'S' || CAST(node // 2 AS VARCHAR) AS node, pr
        |FROM it4 WHERE node % 2 = 1
        |ORDER BY pr DESC, node LIMIT 25""".stripMargin)),

    // ---- Label propagation communities over the same weighted
    // bipartite order graph: 3 synchronous majority-vote rounds, then
    // the 20 largest communities. The community member of the graph
    // family (pagerank iterates values, components contracts, BFS
    // expands, LPA votes) — "which customer/supplier cliques trade
    // together" for sampling-mix or dedup-scope decisions. All-integer
    // semantics (labels are node ids, votes are BIGINT weight sums,
    // ties break to the smallest label), so the unrolled-CTE oracle
    // replays every round exactly.
    "q_label_prop" -> QueryDef(
      fn = (spark, dir) => {
        GraphOps.labelPropagation(orderGraphEdges(spark, dir), iters = 3)
          .groupBy("label")
          .agg(count(lit(1)).as("sz"))
          .select(col("label").as("community"), col("sz"))
          .orderBy(col("sz").desc, col("community"))
          .limit(20)
      },
      oracle = Some(s"""
        |WITH cs AS (
        |  SELECT CAST(o.o_custkey AS BIGINT) * 2 AS c,
        |         CAST(l.l_suppkey AS BIGINT) * 2 + 1 AS s,
        |         CAST(COUNT(*) AS BIGINT) AS w
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |edges AS (
        |  SELECT c AS src, s AS dst, w FROM cs
        |  UNION ALL
        |  SELECT s AS src, c AS dst, w FROM cs),
        |lp0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
        |${(0 until 3).map(i => lpCte(s"lp$i", s"lp${i + 1}").trim).mkString(",\n")}
        |SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS sz
        |FROM lp3 GROUP BY 1 ORDER BY sz DESC, community LIMIT 20""".stripMargin)),

    // ---- Modularity of the q_label_prop communities — the quality
    // monitor of the community family (as q_cluster_purity audits IVF
    // and q_lsh_eval audits LSH): how much intra-community weight
    // exceeds the random-graph expectation. EXACT integer form: for
    // community c with internal weight in_c and total degree tot_c,
    // Q·(2m)² = Σ_c (in_c·2m − tot_c²) — every term BIGINT (headroom:
    // tot_c ≤ 2m ≈ 1.2e7 at sf1, square 1.4e14; a 100 TB graph with
    // 2m ~ 1e12 would route the square through DECIMAL(38,0)). Per
    // community this emits (w_in, tot_w, q_contrib); the label frames
    // broadcast, the edge list is read from labelPropagation's cache
    // (same canonical plan → CacheManager serves it).
    "q_modularity" -> QueryDef(
      fn = (spark, dir) => {
        val edges = orderGraphEdges(spark, dir)
        val labels = GraphOps.labelPropagation(edges, iters = 3)
        // the canonical lp edge plan — hits labelPropagation's cache
        val e = GraphOps.lpEdgeFrame(edges)
        val lSrc = labels.select(col("node").as("src"),
          col("label").as("l_src"))
        val lDst = labels.select(col("node").as("dst"),
          col("label").as("l_dst"))
        val win = e.join(broadcast(lSrc), "src")
          .join(broadcast(lDst), "dst")
          .filter(col("l_src") === col("l_dst"))
          .groupBy(col("l_src").as("community"))
          .agg(sum(col("w")).as("w_in"))
        val deg = e.groupBy("src").agg(sum(col("w")).as("ow"))
          .join(broadcast(lSrc), "src")
          .groupBy(col("l_src").as("community"))
          .agg(sum(col("ow")).as("tot_w"))
        val twoM = e.agg(sum(col("w")).as("two_m"))
        deg.join(win, Seq("community"), "left")
          .crossJoin(broadcast(twoM))
          .select(col("community"),
            coalesce(col("w_in"), lit(0L)).as("w_in"),
            col("tot_w"),
            (coalesce(col("w_in"), lit(0L)) * col("two_m") -
              col("tot_w") * col("tot_w")).as("q_contrib"))
          .orderBy(col("q_contrib").desc, col("community"))
          .limit(20)
      },
      oracle = Some(s"""
        |WITH cs AS (
        |  SELECT CAST(o.o_custkey AS BIGINT) * 2 AS c,
        |         CAST(l.l_suppkey AS BIGINT) * 2 + 1 AS s,
        |         CAST(COUNT(*) AS BIGINT) AS w
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |edges AS (
        |  SELECT c AS src, s AS dst, w FROM cs
        |  UNION ALL
        |  SELECT s AS src, c AS dst, w FROM cs),
        |lp0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
        |${(0 until 3).map(i => lpCte(s"lp$i", s"lp${i + 1}").trim).mkString(",\n")},
        |w_in AS (
        |  SELECT l1.label AS community, CAST(SUM(e.w) AS BIGINT) AS w_in
        |  FROM edges e
        |  JOIN lp3 l1 ON e.src = l1.node
        |  JOIN lp3 l2 ON e.dst = l2.node
        |  WHERE l1.label = l2.label GROUP BY 1),
        |deg AS (
        |  SELECT l.label AS community, CAST(SUM(o.ow) AS BIGINT) AS tot_w
        |  FROM (SELECT src, CAST(SUM(w) AS BIGINT) AS ow
        |        FROM edges GROUP BY src) o
        |  JOIN lp3 l ON o.src = l.node GROUP BY 1),
        |two_m AS (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM edges)
        |SELECT d.community, COALESCE(w.w_in, 0) AS w_in, d.tot_w,
        |  COALESCE(w.w_in, 0) * t.m2 - d.tot_w * d.tot_w AS q_contrib
        |FROM deg d LEFT JOIN w_in w ON d.community = w.community
        |CROSS JOIN two_m t
        |ORDER BY q_contrib DESC, d.community LIMIT 20""".stripMargin)),

    // ---- BFS reachability: hop distance from customer C0 over the
    // same bipartite order graph (≤ 4 hops = customers two purchase
    // steps away). The TRAVERSAL member of the graph family (pagerank
    // iterates values, components contracts, BFS expands a frontier) —
    // "blast radius" queries: which suppliers/customers are within k
    // relationship steps of a flagged entity. The oracle is a
    // recursive CTE under UNION-dedup semantics with an outer MIN(d):
    // the frontier algorithm must find every node at its MINIMAL hop
    // count exactly to hash-match.
    "q_bfs_hops" -> QueryDef(
      fn = (spark, dir) => {
        val orders = Tables(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val li = Tables(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
        val edges = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
          .select(
            concat(lit("C"), col("o_custkey").cast("string")).as("c"),
            concat(lit("S"), col("l_suppkey").cast("string")).as("s"))
          .distinct()
          .select(expr(
            "inline(array(struct(c AS src, s AS dst)," +
              " struct(s AS src, c AS dst)))"))
        GraphOps.bfsHops(edges, "C0", maxHops = 4)
          .orderBy("d", "node")
      },
      oracle = Some("""
        |WITH RECURSIVE edges AS (
        |  SELECT DISTINCT 'C' || CAST(o.o_custkey AS VARCHAR) AS c,
        |                  'S' || CAST(l.l_suppkey AS VARCHAR) AS s
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |bi AS (
        |  SELECT c AS src, s AS dst FROM edges
        |  UNION ALL
        |  SELECT s AS src, c AS dst FROM edges),
        |walk(node, d) AS (
        |  SELECT 'C0', CAST(0 AS BIGINT)
        |  UNION
        |  SELECT e.dst, w.d + 1
        |  FROM walk w JOIN bi e ON w.node = e.src
        |  WHERE w.d < 4)
        |SELECT node, MIN(d) AS d FROM walk GROUP BY node
        |ORDER BY d, node""".stripMargin)),

    // ---- Weighted single-source shortest paths (bounded
    // Bellman–Ford, [[GraphOps.ssspBounded]]): min-PLUS distances over
    // the same customer↔supplier bipartite graph as q_bfs_hops, each
    // edge weighted by the smallest line-item quantity ever shipped
    // across it (an exact BIGINT, so distances hash-check). Four
    // relaxation rounds — every ≤4-edge shortest route exact, the
    // same bounded-rounds discipline as the BFS/k-core family; the
    // cheapest route may be LONGER in hops than the hop-minimal one,
    // which is precisely what separates this from q_bfs_hops
    // (GraphSpec forces that case on a crafted graph). Scale shape
    // per round: frontier equi-join + map-side-partial min — the edge
    // list shuffles once at build, never per round. The oracle
    // unrolls the four relaxations as chained CTEs.
    "q_sssp_weighted" -> QueryDef(
      fn = (spark, dir) => {
        val orders = Tables(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val li = Tables(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
        val pair = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
          .groupBy(
            concat(lit("C"), col("o_custkey").cast("string")).as("c"),
            concat(lit("S"), col("l_suppkey").cast("string")).as("s"))
          .agg(min("l_quantity").cast("long").as("w"))
        val edges = pair.select(expr(
          "inline(array(struct(c AS src, s AS dst, w)," +
            " struct(s AS src, c AS dst, w)))"))
        GraphOps.ssspBounded(edges, "C0", rounds = 4)
          .orderBy("d", "node")
      },
      oracle = Some {
        def relax(prev: String, cur: String): String = s"""
          |$cur AS (
          |  SELECT node, MIN(d) AS d FROM (
          |    SELECT node, d FROM $prev
          |    UNION ALL
          |    SELECT e.dst AS node, p.d + e.w AS d
          |    FROM $prev p JOIN bi e ON p.node = e.src)
          |  GROUP BY node)""".stripMargin
        s"""
        |WITH pair AS MATERIALIZED (
        |  SELECT 'C' || CAST(o.o_custkey AS VARCHAR) AS c,
        |         'S' || CAST(l.l_suppkey AS VARCHAR) AS s,
        |         CAST(MIN(l.l_quantity) AS BIGINT) AS w
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |bi AS MATERIALIZED (
        |  SELECT c AS src, s AS dst, w FROM pair
        |  UNION ALL
        |  SELECT s AS src, c AS dst, w FROM pair),
        |d0 AS (SELECT 'C0' AS node, CAST(0 AS BIGINT) AS d),
        |${relax("d0", "d1")},
        |${relax("d1", "d2")},
        |${relax("d2", "d3")},
        |${relax("d3", "d4")}
        |SELECT node, d FROM d4 ORDER BY d, node""".stripMargin
      })
  )
}
