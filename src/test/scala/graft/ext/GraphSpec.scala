package graft.ext

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("symmetric 2-node graph is a fixed point at rank = scale") {
    // A<->B weight 1: each node forwards its whole rank each round, so
    // pr' = 0.15*scale + 0.85*scale = scale exactly (integer arithmetic
    // included — 1e9*15/100 and 85*1e9/100 are both exact)
    val edges = Seq(("A", "B", 1L), ("B", "A", 1L)).toDF("src", "dst", "w")
    val got = GraphOps.pageRank(edges, iters = 5)
      .as[(String, Long)].collect().toMap
    assert(got === Map("A" -> 1000000000L, "B" -> 1000000000L))
  }

  test("ranks replay bit-for-bit against a single-threaded reference") {
    // a small weighted digraph with a hub, a chain, and asymmetric
    // weights — every rank must equal the plain-Scala replication of
    // the same fixed-point recurrence (exact integers: no tolerance)
    val raw = Seq(
      ("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L), ("c", "a", 1L),
      ("c", "d", 5L), ("d", "a", 2L), ("d", "b", 1L), ("b", "d", 1L))
    val scale = 1000000000L
    val iters = 7

    def reference(): Map[String, Long] = {
      val outw = raw.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val nodes = raw.map(_._1).distinct
      var pr = nodes.map(_ -> scale).toMap
      for (_ <- 1 to iters) {
        val contrib = raw
          .map { case (s, d, w) => d -> (pr(s) * w / outw(s)) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        pr = nodes.map(n =>
          n -> (scale * 15L / 100L + 85L * contrib.getOrElse(n, 0L) / 100L)).toMap
      }
      pr
    }

    val got = GraphOps.pageRank(raw.toDF("src", "dst", "w"), iters, scale)
      .as[(String, Long)].collect().toMap
    assert(got === reference())
  }

  test("co-partitioned big-graph regime is bit-identical to broadcast") {
    // the oracle only ever exercises the broadcast regime (its node
    // sets are tiny); force the layout-pinned co-partitioned path
    // with broadcastNodes = 0 and require the exact same ranks on a
    // graph with asymmetric weights and a zero-in-degree node
    val raw = Seq(
      ("a", "b", 3L), ("b", "c", 2L), ("c", "a", 1L), ("c", "d", 5L),
      ("d", "b", 1L), ("e", "a", 4L), ("e", "c", 1L)) // nothing points at e
    val viaBroadcast = GraphOps.pageRank(
      raw.toDF("src", "dst", "w"), iters = 4)
      .as[(String, Long)].collect().toMap
    val viaShuffle = GraphOps.pageRank(
      raw.toDF("src", "dst", "w"), iters = 4, broadcastNodes = 0L)
      .as[(String, Long)].collect().toMap
    assert(viaShuffle === viaBroadcast)
    assert(viaShuffle("e") === 150000000L) // zero in-degree ⇒ base only
  }

  test("random directed multigraphs replay bit-for-bit (seeded property)") {
    // 5 seeded random graphs — multi-edges, self-loops, dst-only
    // nodes (dropped by the sources-define-nodes contract on both
    // sides) — each checked exactly against the same single-threaded
    // reference recurrence
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 6 + rnd.nextInt(8)
      val raw = Seq.fill(20 + rnd.nextInt(20))(
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n + 2)}",
          1L + rnd.nextInt(9)))
      val iters = 2 + rnd.nextInt(4)
      val scale = 1000000000L

      val outw = raw.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val nodes = raw.map(_._1).distinct
      var pr = nodes.map(_ -> scale).toMap
      for (_ <- 1 to iters) {
        val contrib = raw
          .flatMap { case (s, d, w) =>
            if (nodes.contains(d)) Some(d -> (pr(s) * w / outw(s))) else None }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        pr = nodes.map(x =>
          x -> (scale * 15L / 100L + 85L * contrib.getOrElse(x, 0L) / 100L)).toMap
      }

      val got = GraphOps.pageRank(raw.toDF("src", "dst", "w"), iters, scale)
        .as[(String, Long)].collect().toMap
      assert(got === pr, s"trial $trial: n=$n iters=$iters")
    }
  }

  test("q_pagerank ranks suppliers and conserves bounded mass") {
    val df = SparkEntry.queries("q_pagerank")(spark, "/root/testdata/sf0.001")
    val rows = df.as[(String, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._1.startsWith("S")))
    // descending by rank (the deterministic output contract)
    assert(rows.map(_._2).sameElements(rows.map(_._2).sortBy(-_)))
    // fixed-point sanity: every rank at least the base mass, and no
    // rank can exceed total injected mass (n_nodes * scale)
    assert(rows.forall(_._2 >= 150000000L))
  }

  test("labelPropagation separates weakly-bridged cliques") {
    // two triangles (1,2,3) and (10,11,12), all internal weight 5,
    // joined by a weight-1 bridge 3–10: internal majority must beat
    // the bridge, so each triangle converges to its own min label
    def und(a: Long, b: Long, w: Long) = Seq((a, b, w), (b, a, w))
    val edges = (
      und(1, 2, 5) ++ und(2, 3, 5) ++ und(1, 3, 5) ++
        und(10, 11, 5) ++ und(11, 12, 5) ++ und(10, 12, 5) ++
        und(3, 10, 1)).toDF("src", "dst", "w")
    val got = GraphOps.labelPropagation(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    val c1 = Set(1L, 2L, 3L).map(got)
    val c2 = Set(10L, 11L, 12L).map(got)
    assert(c1.size === 1, s"triangle 1 unifies: $got")
    assert(c2.size === 1, s"triangle 2 unifies: $got")
    assert(c1 != c2, s"bridge must not merge the cliques: $got")
  }

  test("labelPropagation replays bit-for-bit against a reference") {
    // seeded random graph; synchronous deterministic rounds replayed
    // imperatively — ties must break to the SMALLEST label
    val rnd = new scala.util.Random(43)
    val es = (1 to 120).map(_ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong,
        (rnd.nextInt(4) + 1).toLong)).filter(e => e._1 != e._2)
    val got = GraphOps.labelPropagation(
      es.toDF("src", "dst", "w"), iters = 3)
      .as[(Long, Long)].collect().toMap
    var ref = es.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      val votes = scala.collection.mutable.Map[(Long, Long), Long]()
      es.foreach { case (s, d, w) =>
        ref.get(s).foreach { l =>
          votes((d, l)) = votes.getOrElse((d, l), 0L) + w
        }
      }
      // the new labeling is exactly "argmax per voted dst": dst-only
      // sinks ENTER the label set (they just never vote), and nodes
      // receiving no votes this round drop out — same as the frame
      ref = votes.groupBy(_._1._1).map { case (n, vs) =>
        n -> vs.toSeq.map { case ((_, l), sw) => (-sw, l) }.min._2
      }
    }
    assert(got === ref)
  }

  test("bfsHops finds minimal hop counts, not just reachability") {
    // diamond + long detour: s→a→t (2 hops) AND s→b→c→t (3 hops) —
    // t must report 2; the detour's interior still gets its own dists.
    // e is reachable only past maxHops and must be absent.
    val edges = Seq(
      ("s", "a"), ("a", "t"),
      ("s", "b"), ("b", "c"), ("c", "t"),
      ("t", "d"), ("d", "e")).toDF("src", "dst")
    val got = GraphOps.bfsHops(edges, "s", maxHops = 3)
      .as[(String, Long)].collect().toMap
    assert(got === Map("s" -> 0L, "a" -> 1L, "b" -> 1L,
      "t" -> 2L, "c" -> 2L, "d" -> 3L))
  }

  test("q_bfs_hops layers are consistent with the edge relation") {
    val df = SparkEntry.queries("q_bfs_hops")(spark, "/root/testdata/sf0.001")
    val rows = df.as[(String, Long)].collect()
    val dist = rows.toMap
    assert(dist("C0") === 0L)
    // bipartite invariant: customers on even hops, suppliers on odd
    rows.foreach { case (n, d) =>
      assert(if (n.startsWith("C")) d % 2 == 0 else d % 2 == 1, s"$n@$d")
    }
    assert(rows.map(_._2).max <= 4L)
  }

  test("kCorePeel isolates the clique and cascades down the chain") {
    import spark.implicits._
    // 5-clique {0..4} + pendant chain 4-10-11-12: the 4-core is
    // exactly the clique, and reaching it needs the CASCADE (12 peels
    // first, exposing 11, then 10 — a single degree filter would
    // leave 10 and 11 in place)
    val clique = for {
      a <- 0L to 4L; b <- 0L to 4L if a != b
    } yield (a, b)
    val chain = Seq((4L, 10L), (10L, 11L), (11L, 12L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val edges = (clique ++ chain).toDF("src", "dst")

    val core4 = GraphOps.kCorePeel(edges, k = 4, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core4 === (0L to 4L).map(_ -> 4L).toMap,
      s"4-core must be exactly the clique: $core4")

    // fixpoint: one more round changes nothing
    val core4b = GraphOps.kCorePeel(edges, k = 4, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core4b === core4, "peel not converged at rounds=3")

    // K=2: the open chain unravels one node per round from the tail
    // (12, then 11, then 10) — after 3 rounds only the clique stands
    val core2 = GraphOps.kCorePeel(edges, k = 2, rounds = 3)
      .collect().map(_.getLong(0)).toSet
    assert(core2 === (0L to 4L).toSet,
      s"2-core should unravel the open chain completely: $core2")
  }

  test("ssspBounded prefers the cheap long route over the direct edge") {
    // A→B direct costs 10; A→C→D→B costs 1+1+1 = 3 — the min-plus
    // answer (3, via 3 hops) differs from BFS's (1 hop). Also: E is
    // reachable only through B, so its distance must build on B's
    // SETTLED (cheap) value, not the first tentative one.
    val edges = Seq(
      ("A", "B", 10L), ("A", "C", 1L), ("C", "D", 1L), ("D", "B", 1L),
      ("B", "E", 2L)
    ).toDF("src", "dst", "w")
    val got = GraphOps.ssspBounded(edges, "A", rounds = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("A" -> 0L, "B" -> 3L, "C" -> 1L, "D" -> 2L,
      "E" -> 5L))

    // under-relaxed: at rounds=2 only the direct edge has reached B
    val early = GraphOps.ssspBounded(edges, "A", rounds = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(early("B") === 10L && early("E") === 12L,
      s"2 rounds must still carry the tentative direct route: $early")
  }

  test("personalized pagerank gives zero mass to nodes the seeds can't reach") {
    // two disconnected 2-cycles; seeds = {a}. The c–d component gets
    // neither teleport nor flow, so its ranks must be EXACTLY zero —
    // the defining difference from global pagerank, which floors
    // every node at 15% of scale.
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L),
      ("c", "d", 1L), ("d", "c", 1L)).toDF("src", "dst", "w")
    val got = GraphOps.pageRank(edges, iters = 5,
      seeds = Some(Seq("a").toDF("node"))).as[(String, Long)].collect().toMap
    assert(got("c") === 0L && got("d") === 0L, s"unreachable mass: $got")
    assert(got("a") > 0L && got("b") > 0L, s"seed component empty: $got")
  }

  test("hits replays bit-for-bit against a single-threaded reference") {
    // a small bipartite purchase graph with one dominant supplier and
    // one concentrated customer — scores must equal the plain-Scala
    // replication of the max-normalized recurrence (exact integers)
    val raw = Seq(
      (0L, 1L, 3L), (0L, 3L, 1L), (2L, 1L, 2L), (2L, 5L, 1L),
      (4L, 1L, 1L), (4L, 3L, 2L), (6L, 5L, 4L))
    val scale = 1000000L
    val rounds = 3

    def reference(): (Map[Long, Long], Map[Long, Long]) = {
      var h = raw.map(_._1).distinct.map(_ -> BigInt(scale)).toMap
      var a = Map.empty[Long, BigInt]
      for (_ <- 1 to rounds) {
        val ar = raw.groupBy(_._2).map { case (v, es) =>
          v -> es.map { case (u, _, w) => h(u) * w }.sum }
        val amax = ar.values.max
        a = ar.map { case (v, x) => v -> x * scale / amax }
        val hr = raw.groupBy(_._1).map { case (u, es) =>
          u -> es.map { case (_, v, w) => a(v) * w }.sum }
        val hmax = hr.values.max
        h = hr.map { case (u, x) => u -> x * scale / hmax }
      }
      (h.map { case (k, v) => k -> v.toLong },
        a.map { case (k, v) => k -> v.toLong })
    }

    val (hDf, aDf) = GraphOps.hits(raw.toDF("src", "dst", "w"), rounds)
    val (wantH, wantA) = reference()
    assert(hDf.as[(Long, Long)].collect().toMap === wantH)
    assert(aDf.as[(Long, Long)].collect().toMap === wantA)
    // L∞ pins each side's leader at exactly scale
    assert(wantH.values.max === scale && wantA.values.max === scale)
  }

  test("hits regimes (broadcast vs dual-pinned co-partitioned) are bit-identical") {
    // same fixture as the replay test; broadcastNodes = 0 forces the
    // large-graph path (two pinned edge layouts, score frames move) —
    // the arithmetic is regime-independent, so results must be EQUAL,
    // not approximately so (the pageRank regime-invariance discipline)
    val raw = Seq(
      (0L, 1L, 3L), (0L, 3L, 1L), (2L, 1L, 2L), (2L, 5L, 1L),
      (4L, 1L, 1L), (4L, 3L, 2L), (6L, 5L, 4L))
    val (hS, aS) = GraphOps.hits(raw.toDF("src", "dst", "w"), rounds = 3)
    val small = (hS.as[(Long, Long)].collect().toMap,
      aS.as[(Long, Long)].collect().toMap)
    val (hL, aL) = GraphOps.hits(raw.toDF("src", "dst", "w"), rounds = 3,
      broadcastNodes = 0L)
    val large = (hL.as[(Long, Long)].collect().toMap,
      aL.as[(Long, Long)].collect().toMap)
    assert(small === large)
  }

  test("dst-pinned edge cache satisfies the iteration rollup (no exchange)") {
    // r10 optimization contract: the broadcast regimes re-lay the
    // cached edge frame out on the iteration's GROUP key, so the
    // per-iteration aggregation — including the ALIASED grouping the
    // operators use, groupBy(dst AS node) — must plan WITHOUT a hash
    // exchange above the cache (partial+final fuse on the satisfying
    // partitioning). A regression here silently re-adds one exchange
    // + AQE stage per pageRank/PPR/labelProp iteration and per HITS
    // half-round.
    val e = GraphOps.lpEdgeFrame(Seq(
      (0L, 1L, 3L), (0L, 3L, 1L), (2L, 1L, 2L), (2L, 5L, 1L),
      (4L, 1L, 1L), (4L, 3L, 2L), (6L, 5L, 4L)).toDF("src", "dst", "w"))
      .persist()
    try {
      e.count()
      val agg = e.groupBy(col("dst").as("node")).agg(sum(col("w")).as("s"))
      val p = agg.queryExecution.executedPlan.toString()
      // the layer ABOVE the cache must be exchange-free (the cache
      // build below it legitimately contains the layout repartition)
      val aboveCache = p.split("InMemoryRelation", 2)(0)
      assert(!aboveCache.contains("Exchange"),
        s"rollup over the dst layout pays an exchange:\n$p")
      assert(aboveCache.contains("HashAggregate"), p)
    } finally e.unpersist()
  }

  test("q_hits separates roles: hubs are customers, authorities suppliers") {
    val rows = SparkEntry.queries("q_hits")(spark, "/root/testdata/sf0.001")
      .select("kind", "label", "score").as[(String, String, Long)]
      .collect().toSeq
    val (auth, hub) = rows.partition(_._1 == "auth")
    assert(auth.nonEmpty && hub.nonEmpty)
    assert(auth.forall(_._2.startsWith("S")), auth.take(3))
    assert(hub.forall(_._2.startsWith("C")), hub.take(3))
    // each side's leader sits at exactly the fixed-point scale
    assert(auth.map(_._3).max === 1000000L)
    assert(hub.map(_._3).max === 1000000L)
    // and the scores are non-degenerate (not everyone at the max)
    assert(auth.map(_._3).distinct.size > 1)
    assert(hub.map(_._3).distinct.size > 1)
  }

  /** Plain-Scala HITS: the max-normalized recurrence in BigInt. */
  private def hitsReference[K](raw: Seq[(K, K, Long)], rounds: Int,
      scale: Long): (Map[K, Long], Map[K, Long]) = {
    var h = raw.map(_._1).distinct.map(_ -> BigInt(scale)).toMap
    var a = Map.empty[K, BigInt]
    for (_ <- 1 to rounds) {
      val ar = raw.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, w) => h(u) * w }.sum }
      a = ar.map { case (v, x) => v -> x * scale / ar.values.max }
      val hr = raw.groupBy(_._1).map { case (u, es) =>
        u -> es.map { case (_, v, w) => a(v) * w }.sum }
      h = hr.map { case (u, x) => u -> x * scale / hr.values.max }
    }
    (h.map { case (k, v) => k -> v.toLong }, a.map { case (k, v) => k -> v.toLong })
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def causedByOverflow(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(c =>
      c.isInstanceOf[ArithmeticException] ||
        String.valueOf(c.getMessage).toLowerCase.contains("overflow"))

  test("hits: seeded random graphs agree across the kernel, co-partitioned and reference") {
    // multi-edges, self-loops, nodes that are both src and dst, and
    // dst-only / src-only nodes; both regimes must equal the BigInt
    // replication exactly, with the same output schemas
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 4 + rnd.nextInt(8)
      val raw = Seq.fill(15 + rnd.nextInt(25))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n + 3).toLong, 1L + rnd.nextInt(9)))
      val rounds = 1 + rnd.nextInt(4)
      val df = raw.toDF("src", "dst", "w")
      val (hK, aK) = GraphOps.hits(df, rounds)
      val (hL, aL) = GraphOps.hits(df, rounds, broadcastNodes = 0L)
      val (wantH, wantA) = hitsReference(raw, rounds, 1000000L)
      val msg = s"trial $trial: n=$n rounds=$rounds"
      assert(hK.as[(Long, Long)].collect().toMap === wantH, msg)
      assert(aK.as[(Long, Long)].collect().toMap === wantA, msg)
      assert(hL.as[(Long, Long)].collect().toMap === wantH, msg)
      assert(aL.as[(Long, Long)].collect().toMap === wantA, msg)
      assert(hK.schema === hL.schema && aK.schema === aL.schema, msg)
    }
  }

  test("hits: string keys, and src and dst key types of their own") {
    val raw = Seq(("u1", "s1", 3L), ("u1", "s2", 1L), ("u2", "s1", 2L),
      ("u3", "s3", 5L), ("s1", "u1", 1L), ("u2", "s2", 4L))
    val (h, a) = GraphOps.hits(raw.toDF("src", "dst", "w"), rounds = 3)
    val (wantH, wantA) = hitsReference(raw, 3, 1000000L)
    assert(h.as[(String, Long)].collect().toMap === wantH)
    assert(a.as[(String, Long)].collect().toMap === wantA)
    // customer ids as longs, supplier labels as strings
    val mixed = Seq((1L, "s1", 2L), (1L, "s2", 1L), (2L, "s2", 3L))
    val (hm, am) = GraphOps.hits(mixed.toDF("src", "dst", "w"), rounds = 2)
    val (mh, ma) = hitsReference(mixed, 2, 1000000L)
    assert(hm.as[(Long, Long)].collect().toMap === mh)
    assert(am.as[(String, Long)].collect().toMap === ma)
  }

  test("the node-count gate: broadcastNodes = n and n - 1 agree") {
    // pageRank counts its sources, HITS the larger of its src and dst
    // sets; one node past the bound selects the co-partitioned regime,
    // which pins its layouts in the module's release slots (the
    // kernel leaves nothing persisted)
    val pr = Seq(("a", "b", 3L), ("b", "c", 2L), ("c", "a", 1L),
      ("c", "d", 5L), ("e", "a", 4L)).toDF("src", "dst", "w")
    val before = persisted
    val atBound = GraphOps.pageRank(pr, 4, broadcastNodes = 4L)
    val atRanks = atBound.as[(String, Long)].collect().toMap
    assert(persisted === before, "n = bound must run the kernel")
    val past = GraphOps.pageRank(pr, 4, broadcastNodes = 3L)
    val pastRanks = past.as[(String, Long)].collect().toMap
    assert(persisted !== before, "n = bound + 1 must run co-partitioned")
    assert(atRanks === pastRanks)
    assert(atBound.schema === past.schema)
    graft.ops.BuildOnce.releaseSwapped()

    val hraw = Seq((0L, 1L, 3L), (0L, 3L, 1L), (2L, 1L, 2L), (2L, 5L, 1L),
      (4L, 7L, 1L), (4L, 3L, 2L)) // 3 sources, 4 destinations
    val hdf = hraw.toDF("src", "dst", "w")
    val beforeH = persisted
    val hAt = GraphOps.hits(hdf, 3, broadcastNodes = 4L)
    val atH = (hAt._1.as[(Long, Long)].collect().toMap, hAt._2.as[(Long, Long)].collect().toMap)
    assert(persisted === beforeH, "max(|src|, |dst|) = bound must run the kernel")
    val hPast = GraphOps.hits(hdf, 3, broadcastNodes = 3L)
    val pastH = (hPast._1.as[(Long, Long)].collect().toMap, hPast._2.as[(Long, Long)].collect().toMap)
    assert(persisted !== beforeH, "one node past the bound must run co-partitioned")
    assert(atH === pastH)
    assert(atH === hitsReference(hraw, 3, 1000000L))
    graft.ops.BuildOnce.releaseSwapped()
  }

  test("fixed-point overflow throws in both regimes") {
    // out-weights fit a long, but scale · w does not: the first
    // contribution product must fail loudly, never wrap
    val big = 1L << 40
    val pr = Seq(("a", "b", big), ("b", "a", big)).toDF("src", "dst", "w")
    for (bn <- Seq(1000000L, 0L)) {
      val e = intercept[Exception](GraphOps.pageRank(pr, 3, broadcastNodes = bn).collect())
      assert(causedByOverflow(e), s"pageRank broadcastNodes=$bn: $e")
    }
    val hd = Seq((1L, 2L, 1L << 44), (3L, 2L, 1L)).toDF("src", "dst", "w")
    for (bn <- Seq(1000000L, 0L)) {
      val e = intercept[Exception] {
        val (h, a) = GraphOps.hits(hd, 2, broadcastNodes = bn)
        h.collect(); a.collect()
      }
      assert(causedByOverflow(e), s"hits broadcastNodes=$bn: $e")
    }
    graft.ops.BuildOnce.releaseSwapped()
  }

  test("node-bounded pageRank and hits leave the persisted RDDs as they found them") {
    val raw = Seq((0L, 1L, 3L), (1L, 2L, 2L), (2L, 0L, 1L), (2L, 3L, 5L),
      (3L, 1L, 1L)).toDF("src", "dst", "w")
    val before = persisted
    val pr = GraphOps.pageRank(raw, 4)
    val (h, a) = GraphOps.hits(raw, 3)
    assert(persisted === before)
    pr.collect(); h.collect(); a.collect()
    assert(persisted === before)
    // a caller's own cache of the edge frame survives the call
    val cached = raw.select(col("src"), col("dst"), col("w").cast("long").as("w")).persist()
    try {
      cached.count()
      GraphOps.pageRank(raw, 2).collect()
      assert(cached.storageLevel !== org.apache.spark.storage.StorageLevel.NONE)
    } finally cached.unpersist()
  }

  test("concurrent node-bounded calls are bit-equal to serial runs") {
    val rnd = new scala.util.Random(11)
    def graph(n: Int) = Seq.fill(40)(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, 1L + rnd.nextInt(5)))
    val g1 = graph(12).toDF("src", "dst", "w")
    val g2 = graph(9).toDF("src", "dst", "w")
    def rank() = GraphOps.pageRank(g1, 5).as[(Long, Long)].collect().toMap
    def hubs() = {
      val (h, a) = GraphOps.hits(g2, 3)
      (h.as[(Long, Long)].collect().toMap, a.as[(Long, Long)].collect().toMap)
    }
    val serial = Seq(rank(), hubs(), rank(), hubs())
    val together = graft.ops.Concurrent.all(
      () => rank(), () => hubs(), () => rank(), () => hubs())
    assert(together === serial)
  }

  test("personalized ranks replay bit-for-bit against a reference") {
    val raw = Seq(
      ("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L), ("c", "a", 1L),
      ("c", "d", 5L), ("d", "a", 2L), ("d", "b", 1L), ("b", "d", 1L))
    val scale = 1000000000L
    val iters = 6
    // seed set includes one node NOT in the graph — it must be
    // dropped before the teleport split (mass conservation)
    val seedIn = Seq("a", "d", "zz")

    def reference(): Map[String, Long] = {
      val outw = raw.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val nodes = raw.map(_._1).distinct
      val seeds = seedIn.toSet.intersect(nodes.toSet)
      val t = 15L * scale * nodes.size / (100L * seeds.size)
      def tele(n: String) = if (seeds(n)) t else 0L
      var pr = nodes.map(n => n -> tele(n)).toMap
      for (_ <- 1 to iters) {
        val contrib = raw
          .map { case (s, d, w) => d -> (pr(s) * w / outw(s)) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        pr = nodes.map(n =>
          n -> (tele(n) + 85L * contrib.getOrElse(n, 0L) / 100L)).toMap
      }
      pr
    }

    val got = GraphOps.pageRank(raw.toDF("src", "dst", "w"), iters, scale,
      seeds = Some(seedIn.toDF("node")))
      .as[(String, Long)].collect().toMap
    assert(got === reference())
  }

  /** Plain-Scala personalized PageRank: the seeded recurrence. */
  private def pprReference[K](raw: Seq[(K, K, Long)], seeds: Seq[K], iters: Int,
      scale: Long): Map[K, Long] = {
    val outw = raw.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = raw.map(_._1).distinct
    val in = seeds.toSet.intersect(nodes.toSet)
    val t = 15L * scale * nodes.size / (100L * in.size)
    def tele(n: K) = if (in(n)) t else 0L
    var pr = nodes.map(n => n -> tele(n)).toMap
    for (_ <- 1 to iters) {
      val contrib = raw
        .flatMap { case (s, d, w) =>
          if (outw.contains(d)) Some(d -> (pr(s) * w / outw(s))) else None }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      pr = nodes.map(n => n -> (tele(n) + 85L * contrib.getOrElse(n, 0L) / 100L)).toMap
    }
    pr
  }

  /** The RDD a checkpointed frame holds its rows in. */
  private def rddOf(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id

  test("personalized pageRank: kernel == co-partitioned == reference on seeded random graphs") {
    // string and long keys, dst-only nodes, and seeds outside the graph
    // (dropped before the teleport split)
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 6) {
      val n = 5 + rnd.nextInt(8)
      val ids = Seq.fill(20 + rnd.nextInt(20))(
        (rnd.nextInt(n), rnd.nextInt(n + 2), 1L + rnd.nextInt(9)))
      val seedIds = ids.head._1 +: Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(n + 4))
      val iters = 1 + rnd.nextInt(5)
      val scale = 1000000000L
      val msg = s"trial $trial: n=$n iters=$iters seeds=$seedIds"
      def check[K](raw: Seq[(K, K, Long)], seeds: Seq[K])(
          implicit enc: org.apache.spark.sql.Encoder[(K, Long)],
          encE: org.apache.spark.sql.Encoder[(K, K, Long)],
          encS: org.apache.spark.sql.Encoder[K]): Unit = {
        val df = spark.createDataset(raw)(encE).toDF("src", "dst", "w")
        val sd = Some(spark.createDataset(seeds)(encS).toDF("node"))
        val kernel = GraphOps.pageRank(df, iters, scale, seeds = sd)
        val copart = GraphOps.pageRank(df, iters, scale, broadcastNodes = 0L, seeds = sd)
        val want = pprReference(raw, seeds, iters, scale)
        assert(kernel.as[(K, Long)](enc).collect().toMap === want, msg)
        assert(copart.as[(K, Long)](enc).collect().toMap === want, msg)
        assert(kernel.schema === copart.schema, msg)
        graft.ops.BuildOnce.releaseFrame(copart)
      }
      check(ids.map { case (s, d, w) => (s.toLong, d.toLong, w) }, seedIds.map(_.toLong))
      check(ids.map { case (s, d, w) => (s"n$s", s"n$d", w) }, seedIds.map(i => s"n$i"))
    }
    // no seed is a node: both regimes refuse the teleport split
    val g = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    for (bn <- Seq(1000000L, 0L)) {
      val e = intercept[IllegalArgumentException](GraphOps.pageRank(g, 2,
        broadcastNodes = bn, seeds = Some(Seq(7L).toDF("node"))).collect())
      assert(e.getMessage.contains("empty seed set"), s"broadcastNodes=$bn: $e")
    }
  }

  test("hits runs 12 rounds in both regimes") {
    val rnd = new scala.util.Random(5)
    val raw = Seq.fill(40)(
      (rnd.nextInt(10).toLong, rnd.nextInt(12).toLong, 1L + rnd.nextInt(9)))
    val want = hitsReference(raw, 12, 1000000L)
    for (bn <- Seq(1000000L, 0L)) {
      val (h, a) = GraphOps.hits(raw.toDF("src", "dst", "w"), 12, broadcastNodes = bn)
      assert((h.as[(Long, Long)].collect().toMap, a.as[(Long, Long)].collect().toMap) === want,
        s"broadcastNodes=$bn")
    }
  }

  test("concurrent co-partitioned calls are bit-equal to serial runs") {
    // two calls each of pageRank, seeded pageRank and hits on one graph,
    // and a third on another graph, all at once on one session
    val rnd = new scala.util.Random(17)
    def graph(n: Int) = Seq.fill(40)(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, 1L + rnd.nextInt(5)))
      .toDF("src", "dst", "w")
    val graphs = Seq(graph(12), graph(9))
    val seeds = Some(Seq(0L, 1L, 2L, 3L).toDF("node"))
    def ranks(df: org.apache.spark.sql.DataFrame) = {
      val m = df.as[(Long, Long)].collect().toMap
      graft.ops.BuildOnce.releaseFrame(df)
      m
    }
    def rank(g: Int) = ranks(GraphOps.pageRank(graphs(g), 5, broadcastNodes = 0L))
    def ppr(g: Int) = ranks(GraphOps.pageRank(graphs(g), 4, broadcastNodes = 0L,
      seeds = seeds))
    def hubs(g: Int) = {
      val (h, a) = GraphOps.hits(graphs(g), 3, broadcastNodes = 0L)
      (ranks(h), ranks(a))
    }
    val calls: Seq[() => Any] = Seq(0, 0, 1).flatMap(g =>
      Seq(() => rank(g), () => ppr(g), () => hubs(g)))
    val serial = calls.map(_())
    val together = graft.ops.Concurrent.all(calls: _*)
    assert(together === serial)
  }

  test("co-partitioned calls keep nothing but their results, which release") {
    val g = Seq((0L, 1L, 3L), (1L, 2L, 2L), (2L, 0L, 1L), (2L, 3L, 5L),
      (3L, 1L, 1L), (4L, 2L, 2L)).toDF("src", "dst", "w")
    val swaps = graft.ops.BuildOnce.liveSwapCount
    val before = persisted
    val pr = GraphOps.pageRank(g, 4, broadcastNodes = 0L)
    val ppr = GraphOps.pageRank(g, 4, broadcastNodes = 0L,
      seeds = Some(Seq(1L, 4L).toDF("node")))
    val (h, a) = GraphOps.hits(g, 3, broadcastNodes = 0L)
    val results = Seq(pr, ppr, h, a)
    assert(graft.ops.BuildOnce.liveSwapCount === swaps)
    // the results are materialized: each holds one persisted RDD, and
    // nothing else the calls made is left
    assert(persisted -- before === results.map(rddOf).toSet)
    results.foreach(_.collect())
    results.foreach(graft.ops.BuildOnce.releaseFrame(_, blocking = true))
    assert((persisted -- before).isEmpty)
  }

  test("a co-partitioned hits call then kernel calls pin only the first call's results") {
    val rnd = new scala.util.Random(29)
    val raw = Seq.fill(30)((rnd.nextInt(8).toLong, rnd.nextInt(8).toLong, 1L))
      .toDF("src", "dst", "w")
    val before = persisted
    val (h, a) = GraphOps.hits(raw, 8, broadcastNodes = 0L)
    h.collect(); a.collect()
    val (hk, ak) = GraphOps.hits(raw, 8)
    hk.collect(); ak.collect()
    GraphOps.pageRank(raw, 3).collect()
    assert(persisted -- before === Set(rddOf(h), rddOf(a)))
    Seq(h, a).foreach(graft.ops.BuildOnce.releaseFrame(_, blocking = true))
  }
}
