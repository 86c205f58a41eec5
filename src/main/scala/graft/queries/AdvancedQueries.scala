package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryModule, Tables}

/** Operators beyond the reference surface that a full analytics engine
  * needs: as-of joins, range (time-proximity) joins, pivot, grouping
  * sets, and exact percentiles — each built from the scale-correct
  * Spark shape (no cross products, no driver-side loops).
  */
object AdvancedQueries extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(12,2)")

  /** The quantile-sketch queries' (v, h) base frame — md5 over every
    * lineitem row, consumed 2–3× per query (level aggregate, sketch
    * filter, exact-rank certificate / bucket counts). Persisted via
    * the one-slot swap so the 60M-row hash pass runs ONCE per
    * invocation instead of per consumer (sf10: q_quantile_sketch
    * 46.7 s → the md5 scan was ~2/3 of it); bounded at one copy
    * across invocations (the lastSeries pattern). */
  private val lastSketchRows = graft.ops.BuildOnce.swapRef()

  private def sketchRowsOf(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.ops.BuildOnce.swapPersist(lastSketchRows,
      // widen between the 3-column projection and the md5 derivation:
      // a single-row-group lineitem file scans as ONE task, which
      // serialized the hash pass AND pinned the cache (every
      // downstream pass) to width 1; the gate is an identity once the
      // scan yields ≥ session-parallelism splits (ops/Parallelism)
      graft.ops.Parallelism.widen(
        Tables(spark, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
        col("l_orderkey")).select(
        round(col("l_extendedprice") * 100).cast("long").as("v"),
        graft.ops.QuantileSketch.hash60(
          concat_ws("_", col("l_orderkey"), col("l_linenumber"))).as("h")))

  /** The ≤k-row sketch frame shared by the two sketch queries —
    * PERSISTED AND FORCED (r10): the sketch has 3–4 consumers per
    * query (size rollup, position window, boundary join), and each
    * re-executed the corpus-sized filter plan; worse, under AQE the
    * independent consumers raced to build the (v, h) cache
    * concurrently (measured: 9 simultaneous ~0.22 s stage jobs all
    * paying the md5 scan). One eager count materializes the (v, h)
    * cache AND the ≤k sketch in a single clean action; every
    * consumer then reads ≤k cached rows. Bounded by k, swap-released. */
  private val lastSketchSk = graft.ops.BuildOnce.swapRef()

  private def sketchOf(spark: SparkSession, dir: String, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val sk = graft.ops.BuildOnce.swapPersist(lastSketchSk,
      graft.ops.QuantileSketch.sketchRows(sketchRowsOf(spark, dir), k))
    sk.count()
    sk
  }

  /** q_pareto_frontier's supplier aggregate — feeds both the frontier
    * derivation and the output semi-join; swap-released, bounded at
    * one copy across invocations (the Dedup.lastSigs pattern). */
  private val lastParetoSup =
    graft.ops.BuildOnce.swapRef()

  /** q_assoc_rules' basket-item frame (pair self-join both sides +
    * support counts) — same swap-release bounding. */
  private val lastRuleItems =
    graft.ops.BuildOnce.swapRef()

  /** A-priori pruned pair mining over distinct (ok, item) rows: drop
    * items whose basket-support share is below `minShare` (an
    * anti-monotone bound — no pair can out-support its rarest member),
    * then expand pairs per basket via a self-equi-join on the basket
    * key and return the top-k pairs by co-basket count, totally
    * ordered. The frequent-item list is at most avgBasketSize/minShare
    * entries regardless of corpus size, so its semi-join broadcasts.
    * Public so the spec can prove prune-losslessness on a corpus where
    * the prune actually fires (the testdata brands are all frequent).
    */
  def frequentPairs(items: DataFrame, baskets: DataFrame,
      minShare: Double, k: Int): DataFrame = {
    val tot = baskets.agg(count(lit(1)).as("n_baskets"))
    val freq = items.groupBy("item").agg(count(lit(1)).as("sup"))
      .crossJoin(broadcast(tot))
      .filter(col("sup") >= col("n_baskets") * minShare)
      .select("item")
    val pruned = items.join(broadcast(freq), "item")
    pruned.as("a").join(pruned.as("b"),
        col("a.ok") === col("b.ok") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n_baskets_together"))
      .orderBy(col("n_baskets_together").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  override def defs: Seq[(String, QueryDef)] = Seq(

    // ---- AS-OF JOIN: each click event matched to the same user's most
    // recent prior-or-equal view event. Spark has no native as-of join;
    // the scale-correct shape is the union-tag trick: interleave both
    // sides on the (key, time) sort order and carry the latest right row
    // forward with last(ignoreNulls) — ONE shuffle + sort per key, no
    // range explosion, no cross product (works at any key cardinality).
    // Oracle: DuckDB's native ASOF JOIN.
    "q_asof_join" -> QueryDef(
      fn = (spark, dir) => {
        val events = Tables(spark, dir, "events")
        val clicks = events.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"),
            lit(1).as("side"))
        // dedupe views to ONE row per (user, ts): with equal-timestamp
        // views both engines would otherwise pick an ARBITRARY one
        // (Spark: partition-order of the tie; DuckDB ASOF: its own) —
        // max event_id is the deterministic convention, mirrored in
        // the oracle
        val views = events.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("v_event_id"))
          .withColumn("side", lit(0))
        val tagged = clicks
          .withColumn("v_event_id", lit(null).cast("long"))
          .unionByName(views.withColumn("event_id", lit(null).cast("long")))
        // views (side=0) sort before clicks (side=1) at equal ts =>
        // "prior OR EQUAL" semantics, matching ASOF's ts >= v.ts.
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("side"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tagged
          .withColumn("matched_view", last(col("v_event_id"), ignoreNulls = true).over(w))
          .filter(col("side") === 1)
          .select(col("event_id"), col("user_id"), col("matched_view"))
          .orderBy("event_id")
      },
      oracle = Some("""
        |SELECT c.event_id, c.user_id, v.event_id AS matched_view
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, MAX(event_id) AS event_id
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts) v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.event_id""".stripMargin),
      bench = true),

    // ---- RANGE JOIN: ordered pairs of same-user events within 10
    // minutes. Scale shape: equi-join on (user, 10-min bucket) with the
    // left side exploded to its own + next bucket, then the exact range
    // filter — the shuffle key is bounded, never a per-user cross join.
    "q_range_join_pairs" -> QueryDef(
      fn = (spark, dir) => {
        val events = Tables(spark, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            unix_micros(col("ts")).as("us"))
        val bucket = (col("us") / lit(600000000L)).cast("long")
        val a = events.select(col("event_id").as("id_a"), col("user_id"),
            col("us").as("us_a"),
            explode(array(bucket, bucket + 1)).as("bkt"))
        val b = events.select(col("event_id").as("id_b"),
          col("user_id"), col("us").as("us_b"), bucket.as("bkt"))
        a.join(b, Seq("user_id", "bkt"))
          .filter(col("us_b") > col("us_a") &&
            col("us_b") - col("us_a") <= 600000000L)
          // no dedup needed: us_b > us_a makes the bucket delta 0 or 1,
          // so each qualifying pair matches exactly ONE of a's two
          // exploded buckets (a distinct() here would re-shuffle the
          // whole result for nothing)
          .select(col("user_id"), col("id_a"), col("id_b"),
            ((col("us_b") - col("us_a")) / lit(1000000.0)).as("gap_sec"))
          .orderBy("user_id", "id_a", "id_b")
      },
      oracle = Some("""
        |SELECT a.user_id AS user_id, a.event_id AS id_a, b.event_id AS id_b,
        |  CAST(epoch_us(b.ts) - epoch_us(a.ts) AS DOUBLE) / 1000000.0 AS gap_sec
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND b.ts > a.ts
        | AND b.ts <= a.ts + INTERVAL '10 minutes'
        |ORDER BY user_id, id_a, id_b""".stripMargin)),

    // ---- Band join written the NAIVE way — no blocking, no equi key,
    // just `abs(us_a - us_b) <= 60s` between two different event
    // streams. Spark would plan this as a nested-loop join (O(n x m));
    // the injected [[graft.plans.RangeJoinRewriteRule]] rewrites it to
    // the banded equi-join automatically (same construction
    // q_range_join_pairs applies by hand), so the user-facing API can
    // stay declarative. Oracle = the plain quadratic join in DuckDB.
    "q_range_join_auto" -> QueryDef(
      fn = (spark, dir) => {
        graft.plans.RangeJoinRewriteRule.install(spark)
        val ev = Tables(spark, dir, "events")
        val a = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("id_a"), unix_micros(col("ts")).as("us_a"))
        val b = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("id_b"), unix_micros(col("ts")).as("us_b"))
        a.join(b, abs(col("us_a") - col("us_b")) <= 60000000L)
          .select(col("id_a"), col("id_b"),
            ((col("us_b") - col("us_a")) / lit(1000000.0)).as("gap_sec"))
          .orderBy("id_a", "id_b")
      },
      oracle = Some("""
        |SELECT a.event_id AS id_a, b.event_id AS id_b,
        |  CAST(epoch_us(b.ts) - epoch_us(a.ts) AS DOUBLE) / 1000000.0 AS gap_sec
        |FROM (SELECT * FROM events WHERE event_type = 'signup') a
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000
        |ORDER BY id_a, id_b""".stripMargin)),

    // ---- SWEEP-LINE interval concurrency: how many lineitems are
    // "in fulfillment" (inside the order-placed ↔ shipped span) on
    // each day — the classic max-concurrent-intervals problem. A naive
    // formulation range-joins every interval against a day spine
    // (|days| × |intervals| work); the sweep-line instead turns each
    // interval into a +1 at its start and a −1 after its end, rolls
    // them up PER DAY first, and prefix-sums the daily nets. All the
    // heavy work (the orderkey equi-join, the per-day rollup with
    // map-side partials) is unordered and shuffles normally; the only
    // SEQUENTIAL step runs over the date dimension, which is bounded
    // (~hundreds of rows at any corpus size — the two-level trick:
    // aggregate to the bounded key first, fold second),
    // so the single-partition prefix window is never the bottleneck
    // at 100 TB. Integer counts end-to-end ⇒ hash-exact.
    "q_sweepline_concurrency" -> QueryDef(
      fn = (spark, dir) => {
        val li = Tables(spark, dir, "lineitem")
          .select("l_orderkey", "l_shipdate")
        val ord = Tables(spark, dir, "orders")
          .select("o_orderkey", "o_orderdate")
        // the synthetic generator does NOT enforce ship >= order
        // (47% inverted at sf0.001), so the interval is the SPAN
        // between the two dates — least/greatest, not order/ship
        val iv = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .select(
            least(to_date(col("o_orderdate")), to_date(col("l_shipdate")))
              .as("d0"),
            greatest(to_date(col("o_orderdate")), to_date(col("l_shipdate")))
              .as("d1"))
        // both endpoint events from ONE pass (a union of two selects
        // would plan the join + fact scan twice — measured 4 scans)
        val deltas = iv.select(explode(array(
            struct(col("d0").as("d"), lit(1L).as("delta")),
            struct(date_add(col("d1"), 1).as("d"), lit(-1L).as("delta"))))
            .as("e"))
          .select(col("e.d").as("d"), col("e.delta").as("delta"))
        val daily = deltas.groupBy("d").agg(
          sum("delta").as("net"),
          sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_opened"),
          sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("n_closed"))
        val w = Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.withColumn("in_flight", sum("net").over(w)).orderBy("d")
      },
      oracle = Some("""
        |WITH iv AS (
        |  SELECT least(CAST(o.o_orderdate AS DATE),
        |               CAST(l.l_shipdate AS DATE)) AS d0,
        |         greatest(CAST(o.o_orderdate AS DATE),
        |                  CAST(l.l_shipdate AS DATE)) AS d1
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |deltas AS (
        |  SELECT d0 AS d, 1 AS delta FROM iv
        |  UNION ALL
        |  SELECT d1 + 1 AS d, -1 AS delta FROM iv),
        |daily AS (
        |  SELECT d, CAST(SUM(delta) AS BIGINT) AS net,
        |    CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_opened,
        |    CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_closed
        |  FROM deltas GROUP BY d)
        |SELECT d, net, n_opened, n_closed,
        |  CAST(SUM(net) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS in_flight
        |FROM daily ORDER BY d""".stripMargin)),

    // ---- SKYLINE / Pareto frontier: suppliers not dominated on
    // (revenue, quantity) — dominance meaning another supplier is >=
    // on both and > on at least one. The naive operator is the O(n²)
    // NOT EXISTS self-join (which IS the oracle below — the quadratic
    // formulation doubles as the correctness proof of the linear
    // one); the engine formulation is the sort-scan: at each distinct
    // revenue level, only the max-quantity point can survive, and it
    // survives iff its quantity strictly exceeds the running max over
    // all STRICTLY-GREATER revenue levels (a lagged cummax — ties in
    // revenue are handled by the level pre-aggregation, ties in both
    // dims survive together by joining pairs back). Work: one
    // supplier-level aggregation + windows over the BOUNDED
    // (supplier-count-sized, and then revenue-level-sized) frames —
    // the fact table never self-joins. Revenue stays exact decimal
    // through every comparison; quantity is integer.
    "q_pareto_frontier" -> QueryDef(
      fn = (spark, dir) => {
        // maximize revenue, MINIMIZE discount given away — negating
        // the minimized dimension (m2 = −disc) turns min/max skyline
        // into the canonical max/max sort-scan. (revenue, quantity)
        // would be a near-vacuous frontier — they're collinear.
        // PERSISTED: sup feeds the frontier derivation AND the final
        // semi-join — uncached, the dominant cost (the fact scan +
        // supplier aggregation) would run twice per query
        val sup = graft.ops.BuildOnce.swapPersist(lastParetoSup,
          Tables(spark, dir, "lineitem")
            .groupBy("l_suppkey")
            .agg(sum(dec(col("l_extendedprice"))).as("rev"),
              (-sum(floor(col("l_discount") * 100 + 0.5))).as("m2")))
        val lvl = sup.groupBy("rev").agg(max("m2").as("max_m2"))
        val byRevDesc = Window.orderBy(col("rev").desc)
        val thr = lvl.withColumn("thr",
          max("max_m2").over(
            byRevDesc.rowsBetween(Window.unboundedPreceding, -1)))
        val frontier = thr
          .filter(col("thr").isNull || col("max_m2") > col("thr"))
          .select(col("rev"), col("max_m2").as("m2"))
        // decimal through every comparison; double only at the output
        // boundary (VARCHAR-routed in the oracle — house convention)
        sup.join(broadcast(frontier), Seq("rev", "m2"), "left_semi")
          .select(col("l_suppkey"), col("rev").cast("double").as("rev"),
            (-col("m2")).cast("long").as("disc_e2"))
          .orderBy("l_suppkey")
      },
      oracle = Some("""
        |WITH sup AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev,
        |    SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS disc
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT p.l_suppkey,
        |  CAST(CAST(p.rev AS VARCHAR) AS DOUBLE) AS rev,
        |  CAST(p.disc AS BIGINT) AS disc_e2
        |FROM sup p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM sup q
        |  WHERE q.rev >= p.rev AND q.disc <= p.disc
        |    AND (q.rev > p.rev OR q.disc < p.disc))
        |ORDER BY p.l_suppkey""".stripMargin)),

    // ---- PIVOT: order counts by year x order priority (fixed pivot
    // column list => single-pass conditional aggregation, no extra scan).
    "q_pivot_priority_by_year" -> QueryDef(
      fn = (spark, dir) => Tables(spark, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("y"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .withColumnsRenamed(Map(
          "1-URGENT" -> "urgent", "2-HIGH" -> "high", "3-MEDIUM" -> "medium",
          "4-NOT SPECIFIED" -> "unspecified", "5-LOW" -> "low"))
        // pivot leaves NULL (not 0) in cells no row fell into; the
        // FILTER-count oracle yields 0 there.
        .select(col("y") +: Seq("urgent", "high", "medium", "unspecified", "low")
          .map(c => coalesce(col(c), lit(0L)).as(c)): _*)
        .orderBy("y"),
      oracle = Some("""
        |SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |  count(*) FILTER (o_orderpriority = '1-URGENT') AS urgent,
        |  count(*) FILTER (o_orderpriority = '2-HIGH') AS high,
        |  count(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium,
        |  count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS unspecified,
        |  count(*) FILTER (o_orderpriority = '5-LOW') AS low
        |FROM orders GROUP BY 1 ORDER BY y""".stripMargin)),

    // ---- UNPIVOT (wide -> long): the melt inverse of the pivot
    // above, via `stack` — a NARROW generator (4 output rows per
    // input row, no shuffle until the final agg). Measures are summed
    // as exact decimals per the oracle-parity convention.
    "q_unpivot" -> QueryDef(
      fn = (spark, dir) => Tables(spark, dir, "lineitem")
        .selectExpr("""stack(4,
            'quantity',      CAST(l_quantity      AS DECIMAL(18,2)),
            'extendedprice', CAST(l_extendedprice AS DECIMAL(18,2)),
            'discount',      CAST(l_discount      AS DECIMAL(18,2)),
            'tax',           CAST(l_tax           AS DECIMAL(18,2))
          ) AS (measure, v)""")
        .groupBy("measure")
        .agg(count(lit(1)).as("n"),
          sum(col("v")).cast("double").as("total"))
        .orderBy("measure"),
      oracle = Some("""
        |WITH long AS (
        |  SELECT 'quantity' AS measure, CAST(l_quantity AS DECIMAL(18,2)) AS v FROM lineitem
        |  UNION ALL
        |  SELECT 'extendedprice', CAST(l_extendedprice AS DECIMAL(18,2)) FROM lineitem
        |  UNION ALL
        |  SELECT 'discount', CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
        |  UNION ALL
        |  SELECT 'tax', CAST(l_tax AS DECIMAL(18,2)) FROM lineitem)
        |SELECT measure, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS total
        |FROM long GROUP BY measure ORDER BY measure""".stripMargin)),

    // ---- LATERAL correlated subquery (SQL surface): top-2 orders per
    // customer, the correlated-limit formulation. Catalyst decorrelates
    // the LATERAL into a window/join plan — no per-row re-execution
    // (the plan is the same shape as the window top-k, proven by the
    // shared oracle family).
    "q_lateral_topk" -> QueryDef(
      fn = (spark, dir) => {
        Tables(spark, dir, "customer").createOrReplaceTempView("customer_lat")
        Tables(spark, dir, "orders").createOrReplaceTempView("orders_lat")
        spark.sql("""
          SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          FROM customer_lat c,
          LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders_lat o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
          ) t
          WHERE c.c_custkey < 100
          ORDER BY c.c_custkey, t.o_orderkey""")
      },
      oracle = Some("""
        |SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        |) t
        |WHERE c.c_custkey < 100
        |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin)),

    // ---- GROUPING SETS via the SQL surface (registered temp view):
    // per-flag and per-status totals in one pass, with grouping_id to
    // disambiguate the set each row came from.
    "q_grouping_sets" -> QueryDef(
      fn = (spark, dir) => {
        Tables(spark, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
        spark.sql("""
          SELECT l_returnflag, l_linestatus,
                 CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
          FROM lineitem_gs
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
      },
      oracle = Some("""
        |SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // ---- Custom whole-operator (tier (c)): per-key top-k as a
    // LogicalPlan + SparkStrategy + bounded-heap exec with map-side
    // partial reduction — O(n log k), no per-partition full sort, and
    // only ~k rows per key per partition reach the shuffle (the window
    // row_number formulation shuffles and sorts EVERY row). The oracle
    // is the window formulation, proving operator equivalence.
    // ---- KMV (k-minimum-values) distinct-count sketch — an APPROX
    // aggregate that is nonetheless hash-checkable cross-engine
    // (unlike q_approx_aggs' engine-specific HLL): the sketch is the
    // k=64 smallest values of a deterministic 60-bit hash both
    // engines can compute (md5 hex prefix — Spark conv(,16,10) =
    // DuckDB '0x…'::BIGINT), and the estimator (k-1)·2^60/kth is two
    // IEEE ops on exact integers. Per group the sketch is built by
    // the TopKPerKey operator: per-partition heaps bound what reaches
    // the exchange to ≤k rows — the KMV MERGE property made physical.
    // At 100 TB the distinct pre-pass is the same exchange an exact
    // count-distinct would pay; the payoff is the k-row mergeable
    // summary per group (union of sketches = sketch of union), which
    // an exact count can't give.
    "q_kmv_distinct" -> QueryDef(
      fn = (spark, dir) => {
        val orders = Tables(spark, dir, "orders")
        val h = conv(md5(col("o_custkey").cast("string")).substr(1, 15),
          16, 10).cast("long")
        val pairs = orders
          .select(col("o_orderstatus").as("status"), h.as("h")).distinct()
        val sk = graft.plans.TopK.perKey(pairs, 64, Seq("status"),
            Seq("h" -> true))
          .groupBy("status")
          .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("kth"))
        val exact = orders.groupBy(col("o_orderstatus").as("status"))
          .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
        sk.join(exact, "status")
          .withColumn("est_distinct",
            when(col("n_sketch") < 64, col("n_sketch").cast("double"))
              .otherwise(lit(63.0) * lit(1152921504606846976.0)
                / col("kth").cast("double")))
          .select("status", "n_sketch", "kth", "exact_distinct",
            "est_distinct")
          .orderBy("status")
      },
      oracle = Some("""
        |WITH pairs AS (
        |  SELECT DISTINCT o_orderstatus AS status,
        |    CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM orders),
        |sk AS (
        |  SELECT status, CAST(COUNT(*) AS BIGINT) AS n_sketch,
        |    MAX(h) AS kth
        |  FROM (
        |    SELECT status, h,
        |      ROW_NUMBER() OVER (PARTITION BY status ORDER BY h) AS rn
        |    FROM pairs)
        |  WHERE rn <= 64 GROUP BY status),
        |ex AS (
        |  SELECT o_orderstatus AS status,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
        |  FROM orders GROUP BY 1)
        |SELECT status, n_sketch, kth, exact_distinct,
        |  CASE WHEN n_sketch < 64 THEN CAST(n_sketch AS DOUBLE)
        |       ELSE (63.0 * 1152921504606846976.0) / CAST(kth AS DOUBLE)
        |  END AS est_distinct
        |FROM sk JOIN ex USING (status) ORDER BY status""".stripMargin)),

    // ---- HyperLogLog distinct-count sketch, hash-checked — the
    // cross-engine-deterministic twin of q_approx_aggs' engine-native
    // HLL (the one surface entry no oracle can replay): registers
    // derive from the shared 60-bit md5 hash (bucket = h mod 64,
    // register = leading-zero rank of the remaining 54 bits via
    // length(bin(x)) — a string op, not a log), the harmonic sum is
    // EXACT scaled-integer arithmetic (Σ 2^(55-reg) as BIGINT — max
    // 64·2^55 < 2^62, no double summation order-sensitivity), and the
    // raw estimate α·m²·2^55 / S is a single literal-over-integer
    // double division both engines compute bit-identically. Raw HLL
    // only (no linear-counting small-range correction — that needs a
    // transcendental ln; the registers and scaled sum ARE the sketch,
    // and they are what merges cell-wise across shards).
    // Scale shape: one partial-aggregated groupBy bounded at
    // groups×64 register rows per partition; the 64-bucket spine is a
    // generated literal dim, the exact side joins on the 3-row group
    // key. Register tables of disjoint corpora merge by max — the
    // mergeable-summary property, same as KMV/CMS.
    "q_hll_distinct" -> QueryDef(
      fn = (spark, dir) => {
        val orders = Tables(spark, dir, "orders")
        val h = conv(md5(col("o_custkey").cast("string")).substr(1, 15),
          16, 10).cast("long")
        val regs = orders
          .select(col("o_orderstatus").as("status"), h.as("h"))
          .select(col("status"), pmod(col("h"), lit(64L)).as("bucket"),
            expr("h div 64").as("rem"))
          .withColumn("rank",
            when(col("rem") === 0L, lit(55L))
              .otherwise(lit(55L) - length(bin(col("rem"))).cast("long")))
          .groupBy("status", "bucket").agg(max(col("rank")).as("reg"))
        // all 64 registers per group (absent bucket = register 0)
        val spine = orders.select(col("o_orderstatus").as("status")).distinct()
          .select(col("status"),
            explode(sequence(lit(0L), lit(63L))).as("bucket"))
        val sk = spine.join(regs, Seq("status", "bucket"), "left")
          .withColumn("reg", coalesce(col("reg"), lit(0L)))
          .groupBy("status")
          .agg(sum(when(col("reg") > 0L, 1L).otherwise(0L)).as("n_hit"),
            max(col("reg")).as("max_reg"),
            sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - reg AS INT))"))
              .as("scaled_sum"))
        val exact = orders.groupBy(col("o_orderstatus").as("status"))
          .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
        // α·m²·2^55 (α=0.709, m=64) precomputed as ONE double literal —
        // a 3-factor product would be decimal math in DuckDB (overflow)
        // and the decimal→double rounding need not match IEEE products
        sk.join(exact, "status")
          .withColumn("est_raw",
            lit(1.0462993238608057e20) / col("scaled_sum").cast("double"))
          .select("status", "n_hit", "max_reg", "scaled_sum",
            "exact_distinct", "est_raw")
          .orderBy("status")
      },
      oracle = Some("""
        |WITH hashed AS (
        |  SELECT o_orderstatus AS status,
        |    CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM orders),
        |regs AS (
        |  SELECT status, h % 64 AS bucket,
        |    MAX(CASE WHEN h // 64 = 0 THEN 55
        |             ELSE 55 - length(bin(h // 64)) END) AS reg
        |  FROM hashed GROUP BY 1, 2),
        |sk AS (
        |  SELECT s.status,
        |    CAST(SUM(CASE WHEN COALESCE(r.reg, 0) > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_hit,
        |    CAST(MAX(COALESCE(r.reg, 0)) AS BIGINT) AS max_reg,
        |    CAST(SUM(CAST(1 AS BIGINT) << (55 - COALESCE(r.reg, 0)))
        |      AS BIGINT) AS scaled_sum
        |  FROM (SELECT DISTINCT o_orderstatus AS status, bucket
        |        FROM orders,
        |          (SELECT unnest(generate_series(0, 63)) AS bucket)) s
        |  LEFT JOIN regs r ON s.status = r.status AND s.bucket = r.bucket
        |  GROUP BY s.status),
        |ex AS (
        |  SELECT o_orderstatus AS status,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
        |  FROM orders GROUP BY 1)
        |SELECT sk.status, n_hit, max_reg, scaled_sum, exact_distinct,
        |  1.0462993238608057e20 / CAST(scaled_sum AS DOUBLE) AS est_raw
        |FROM sk JOIN ex USING (status) ORDER BY status""".stripMargin)),

    // ---- KMV set OPERATIONS — the sketch-algebra member of the
    // distinct-count family (q_kmv_distinct estimates one set,
    // q_hll_distinct merges registers; this one answers |A∪B|, |A∩B|
    // and Jaccard BETWEEN two corpus snapshots from two k-row
    // sketches — Beyer et al. 2007's KMV estimator). The fixture is
    // the real 100 TB question: how much shingle mass do two halves
    // of a corpus (sources src0-9 vs src10-19) share, without ever
    // joining their full shingle sets. Estimators:
    //   union sketch U = k smallest of sketch(A) ∪ sketch(B)
    //   est|A∪B| = (k−1)·2^60 / kth(U)   (n<k ⇒ exact n)
    //   est J    = |U ∩ sk(A) ∩ sk(B)| / |U|
    //   est|A∩B| = est J · est|A∪B|
    // Everything is hash-checkable: the sketches are k smallest
    // values of the shared 60-bit md5 hash, the estimates are fixed
    // IEEE op chains over exact integers, and the ERROR CERTIFICATE
    // is exact integer arithmetic (est union within ±15% relative ≈
    // 4.8σ; est Jaccard within ±0.06 absolute via cross-multiplication
    // ≈ 4.4σ at the fixture's J ≈ 0.26 — the two bounds the KMV
    // literature states, with σ_J = sqrt(J(1−J)/k) for k=1024).
    // Scale shape: ONE distinct-shingle shuffle (the same exchange an
    // exact count-distinct would pay) bounded to ≤k rows per
    // partition by the TopKPerKey heap operator; every downstream
    // frame is ≤k rows. Sketches of disjoint shards merge by
    // re-minimizing — the mergeable-summary property that lets 1000
    // executors each ship 1024 longs to answer corpus overlap.
    "q_kmv_setops" -> QueryDef(
      fn = (spark, dir) => {
        val k = 1024
        val docs = Tables(spark, dir, "documents")
        // b = which snapshot: sources src10..src19 (numeric suffix,
        // so 'src2' < 'src10' string-compare traps are avoided)
        val hashed = docs
          .select(
            (expr("CAST(substring(source, 4) AS INT)") >= 10).as("b"),
            explode(graft.ext.DedupFunctions.distinctShingles(col("text")))
              .as("shingle"))
          .select(col("b"),
            conv(md5(col("shingle")).substr(1, 15), 16, 10)
              .cast("long").as("h"))
          .distinct()
        val sk = graft.plans.TopK.perKey(hashed, k, Seq("b"),
          Seq("h" -> true))
        val skA = sk.filter(!col("b")).select("h")
        val skB = sk.filter(col("b")).select("h")
        val u = skA.union(skB).distinct()
          .orderBy("h").limit(k)
        val us = u.agg(count(lit(1)).as("n_union"),
          max(col("h")).as("kth_union"))
        val nb = u.join(skA, "h").join(skB, "h")
          .agg(count(lit(1)).as("n_both"))
        val sa = skA.agg(count(lit(1)).as("n_sketch_a"))
        val sb = skB.agg(count(lit(1)).as("n_sketch_b"))
        val ex = hashed.agg(
          countDistinct(when(!col("b"), col("h"))).as("exact_a"),
          countDistinct(when(col("b"), col("h"))).as("exact_b"),
          countDistinct(col("h")).as("exact_union"))
        sa.crossJoin(broadcast(sb)).crossJoin(broadcast(us))
          .crossJoin(broadcast(nb)).crossJoin(broadcast(ex))
          .withColumn("exact_inter",
            col("exact_a") + col("exact_b") - col("exact_union"))
          .withColumn("est_union",
            when(col("n_union") < k, col("n_union").cast("double"))
              .otherwise(lit(1023.0) * lit(1152921504606846976.0)
                / col("kth_union").cast("double")))
          .withColumn("est_inter",
            col("n_both").cast("double") * col("est_union")
              / col("n_union").cast("double"))
          .withColumn("union_ok",
            (abs(floor(col("est_union")).cast("long") - col("exact_union"))
              * 100 <= col("exact_union") * 15).cast("long"))
          .withColumn("jacc_ok",
            (abs(col("n_both") * col("exact_union")
              - col("exact_inter") * col("n_union")) * 100
              <= col("n_union") * col("exact_union") * 6).cast("long"))
          .select("n_sketch_a", "n_sketch_b", "n_union", "kth_union",
            "n_both", "exact_a", "exact_b", "exact_union", "exact_inter",
            "est_union", "est_inter", "union_ok", "jacc_ok")
      },
      oracle = Some("""
        |WITH tok AS (
        |  SELECT CAST(substr(source, 4) AS INT) >= 10 AS b,
        |         string_split_regex(text, '\s+') AS tokens
        |  FROM documents),
        |shl AS (
        |  SELECT b,
        |    list_distinct(list_transform(
        |      generate_series(0, greatest(len(tokens) - 3, 0)),
        |      i -> array_to_string(tokens[i+1:i+3], ' '))) AS sh
        |  FROM tok),
        |hashed AS (
        |  SELECT DISTINCT b,
        |    CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT b, unnest(sh) AS s FROM shl)),
        |ska AS (SELECT h FROM (
        |  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
        |  FROM hashed WHERE NOT b) WHERE rn <= 1024),
        |skb AS (SELECT h FROM (
        |  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
        |  FROM hashed WHERE b) WHERE rn <= 1024),
        |u AS (SELECT h FROM (
        |  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
        |  FROM (SELECT DISTINCT h FROM (
        |    SELECT h FROM ska UNION ALL SELECT h FROM skb)))
        |  WHERE rn <= 1024),
        |us AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_union,
        |              MAX(h) AS kth_union FROM u),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_both
        |       FROM u JOIN ska USING (h) JOIN skb USING (h)),
        |sa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sketch_a FROM ska),
        |sb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sketch_b FROM skb),
        |ex AS (SELECT
        |  CAST(COUNT(DISTINCT CASE WHEN NOT b THEN h END) AS BIGINT)
        |    AS exact_a,
        |  CAST(COUNT(DISTINCT CASE WHEN b THEN h END) AS BIGINT)
        |    AS exact_b,
        |  CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_union FROM hashed),
        |fin AS (
        |  SELECT *, exact_a + exact_b - exact_union AS exact_inter,
        |    CASE WHEN n_union < 1024 THEN CAST(n_union AS DOUBLE)
        |         ELSE 1023.0 * 1152921504606846976.0
        |              / CAST(kth_union AS DOUBLE) END AS est_union
        |  FROM sa, sb, us, nb, ex)
        |SELECT n_sketch_a, n_sketch_b, n_union, kth_union, n_both,
        |  exact_a, exact_b, exact_union, exact_inter, est_union,
        |  (CAST(n_both AS DOUBLE) * est_union)
        |    / CAST(n_union AS DOUBLE) AS est_inter,
        |  CAST(CASE WHEN abs(CAST(floor(est_union) AS BIGINT)
        |                     - exact_union) * 100
        |            <= exact_union * 15 THEN 1 ELSE 0 END AS BIGINT)
        |    AS union_ok,
        |  CAST(CASE WHEN abs(n_both * exact_union
        |                     - exact_inter * n_union) * 100
        |            <= n_union * exact_union * 6 THEN 1 ELSE 0 END
        |       AS BIGINT) AS jacc_ok
        |FROM fin""".stripMargin)),

    // ---- Mergeable quantile sketch (ops/QuantileSketch — the rank
    // member of the sketch family: CMS answers frequency, HLL/KMV
    // distincts, THIS answers "what is the φ-quantile?" from ≤k rows
    // that merge across shards and batches). Deterministic level
    // sampling: row priority = the shared 60-bit md5 hash of the
    // unique (orderkey, linenumber) key; level = 60 - bitlen(h);
    // sketch = all rows surviving the minimal level with ≤1024
    // survivors. The sketch content, the φ-quantile positions, and
    // the 5σ rank-error certificate (exact integer cross-
    // multiplication in DECIMAL(38,0)/HUGEINT) are all replayed by
    // the oracle — an approx structure that is hash-CHECKED, the
    // q_kmv_distinct way. Scale shape: one scan to (v, h, lmax), a
    // ≤61-row level aggregate (single-partition window on the
    // registry-frame class), broadcast 1-row meta, ≤k rows ever
    // shuffled after the filter. The streamed twin
    // (streaming/QuantileMaintenance) folds per-batch sketches into
    // a store that is bit-equal to this one-shot build (spec-pinned).
    // NOTE the explicit round() before the cents cast: the price is a
    // DOUBLE, so price*100 lands at integer±1e-9 — Spark's bare cast
    // TRUNCATES (7369442.999999999 → 7369442) where DuckDB's ROUNDS,
    // and the histogram gate caught the 1-cent divergence at a bucket
    // boundary. round() on BOTH engines recovers the true integer.
    "q_quantile_sketch" -> QueryDef(
      fn = (spark, dir) => {
        import spark.implicits._
        val k = 1024
        val rows = sketchRowsOf(spark, dir)
        val sk = sketchOf(spark, dir, k)
        val mDf = sk.groupBy("lstar", "n").agg(count(lit(1)).as("m"))
        // ≤k-row frame: the single-partition rank window is bounded
        // by the sketch capacity, never by data size
        val skOrd = sk.select(col("v"), col("h"))
          .withColumn("pos", row_number().over(
            Window.orderBy(col("v"), col("h"))).cast("long"))
        val phis = Seq(100L, 500L, 2500L, 5000L, 7500L, 9500L, 9900L)
          .toDF("phi_bp")
        val est = phis.crossJoin(broadcast(mDf))
          .withColumn("pos",
            greatest(lit(1L), expr("phi_bp * m div 10000")))
          .join(broadcast(skOrd.select(col("pos"), col("v").as("est_v"))),
            "pos")
        // exact rank of each estimate over the FULL data — the
        // in-engine half of the error certificate (7-row broadcast)
        val ranks = rows
          .crossJoin(broadcast(est.select("phi_bp", "est_v")))
          .groupBy("phi_bp", "est_v")
          .agg(sum(when(col("v") <= col("est_v"), 1L).otherwise(0L))
            .as("exact_rank"))
        val errX = abs(col("exact_rank") * lit(10000L) -
          col("phi_bp") * col("n"))
        val d38 = (c: Column) => c.cast("decimal(38,0)")
        est.join(ranks, Seq("phi_bp", "est_v"))
          .withColumn("err_x", errX)
          .withColumn("within_5sigma",
            (d38(col("err_x")) * d38(col("err_x")) * d38(col("m")) <=
              d38(lit(25L)) * d38(col("phi_bp")) *
                d38(lit(10000L) - col("phi_bp")) *
                d38(col("n")) * d38(col("n"))).cast("long"))
          .select(col("phi_bp"), col("lstar"), col("m"), col("n"),
            col("est_v"), col("exact_rank"), col("err_x"),
            col("within_5sigma"))
          .orderBy("phi_bp")
      },
      bench = true,
      oracle = Some("""
        |WITH src AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_' ||
        |      CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM lineitem),
        |lv AS (
        |  SELECT v, h,
        |    CASE WHEN h = 0 THEN 60 ELSE 60 - length(bin(h)) END AS lmax
        |  FROM src),
        |surv AS (
        |  SELECT lmax, SUM(c) OVER (ORDER BY lmax DESC) AS s, c
        |  FROM (SELECT lmax, COUNT(*) AS c FROM lv GROUP BY 1)),
        |meta AS (
        |  SELECT CAST(COALESCE(MAX(CASE WHEN s > 1024 THEN lmax END) + 1, 0)
        |           AS BIGINT) AS lstar,
        |         CAST(SUM(c) AS BIGINT) AS n
        |  FROM surv),
        |sk AS (SELECT v, h FROM lv, meta WHERE lmax >= lstar),
        |skm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM sk),
        |sk_ord AS (
        |  SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY v, h) AS BIGINT) AS pos
        |  FROM sk),
        |phis AS (SELECT CAST(unnest([100, 500, 2500, 5000, 7500, 9500,
        |  9900]) AS BIGINT) AS phi_bp),
        |est AS (
        |  SELECT phi_bp, lstar, m, n, o.v AS est_v
        |  FROM phis CROSS JOIN skm CROSS JOIN meta
        |  JOIN sk_ord o ON o.pos = GREATEST(1, phi_bp * m // 10000)),
        |ranks AS (
        |  SELECT e.phi_bp, e.est_v,
        |    CAST(SUM(CASE WHEN l.v <= e.est_v THEN 1 ELSE 0 END) AS BIGINT)
        |      AS exact_rank
        |  FROM est e, lv l GROUP BY 1, 2)
        |SELECT e.phi_bp, e.lstar, e.m, e.n, e.est_v, r.exact_rank,
        |  abs(r.exact_rank * 10000 - e.phi_bp * e.n) AS err_x,
        |  CAST(CAST(abs(r.exact_rank * 10000 - e.phi_bp * e.n) AS HUGEINT)
        |         * abs(r.exact_rank * 10000 - e.phi_bp * e.n) * e.m
        |       <= CAST(25 AS HUGEINT) * e.phi_bp * (10000 - e.phi_bp)
        |          * e.n * e.n AS BIGINT) AS within_5sigma
        |FROM est e JOIN ranks r ON e.phi_bp = r.phi_bp AND e.est_v = r.est_v
        |ORDER BY e.phi_bp""".stripMargin)),

    // ---- Equi-depth histogram SERVED from the mergeable quantile
    // sketch (ops/Histogram.sketchBoundaries): the incremental-
    // maintenance answer to the rebuild-only equi-depth ANALYZE pass
    // — boundaries come from the ≤k-row sketch the streamed store
    // keeps fresh per micro-batch, never from a rescan of history.
    // Buckets partition the domain (lo < v ≤ ub; bucket B upper-
    // unbounded), exact per-bucket counts come from ONE broadcast
    // range join (16 predicates per row, no shuffle), and each
    // boundary's exact rank (the cumulative bucket count) is checked
    // against its target rank under the sketch's 5σ certificate in
    // exact integer arithmetic — the approx structure is hash-CHECKED
    // end-to-end, the q_quantile_sketch way. Scale shape: one scan to
    // (v, h), the ≤61-row level aggregate, the ≤k-row sketch windows,
    // one broadcast-nested-loop count pass; nothing data-sized is
    // ever sorted or collected.
    "q_histogram_sketch" -> QueryDef(
      fn = (spark, dir) => {
        val k = 1024
        val nB = 16
        val rows = sketchRowsOf(spark, dir)
        val sk = sketchOf(spark, dir, k)
        val bnds = graft.ops.Histogram.sketchBoundaries(sk, nB)
        // exact per-bucket counts: each row lands in EXACTLY one
        // bucket (lo null = -inf; the last bucket is upper-unbounded)
        val cnts = rows.join(broadcast(bnds),
            (col("lo").isNull || col("v") > col("lo")) &&
              (col("v") <= col("ub") || col("bucket") === nB.toLong))
          .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        // boundary b's exact rank = cumulative count through bucket b
        // (16-row window — bounded by construction); its target rank
        // is phi_bp = b*10^4/B of n, certified within 5 sigma
        val d38 = (c: Column) => c.cast("decimal(38,0)")
        bnds.join(cnts, Seq("bucket"), "left")
          .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
          .withColumn("exact_rank", sum(col("cnt")).over(
            Window.orderBy("bucket")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("phi_bp", col("bucket") * lit(10000L / nB))
          .withColumn("err_x", abs(col("exact_rank") * lit(10000L)
            - col("phi_bp") * col("n")))
          .withColumn("within_5sigma",
            (d38(col("err_x")) * d38(col("err_x")) * d38(col("m")) <=
              d38(lit(25L)) * d38(col("phi_bp")) *
                d38(lit(10000L) - col("phi_bp")) *
                d38(col("n")) * d38(col("n"))).cast("long"))
          .select(col("bucket"), col("lo"), col("ub"), col("cnt"),
            col("exact_rank"), col("n"), col("m"), col("lstar"),
            col("within_5sigma"))
          .orderBy("bucket")
      },
      bench = true,
      oracle = Some("""
        |WITH src AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_' ||
        |      CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM lineitem),
        |lv AS MATERIALIZED (
        |  SELECT v, h,
        |    CASE WHEN h = 0 THEN 60 ELSE 60 - length(bin(h)) END AS lmax
        |  FROM src),
        |surv AS (
        |  SELECT lmax, SUM(c) OVER (ORDER BY lmax DESC) AS s, c
        |  FROM (SELECT lmax, COUNT(*) AS c FROM lv GROUP BY 1)),
        |meta AS MATERIALIZED (
        |  SELECT CAST(COALESCE(MAX(CASE WHEN s > 1024 THEN lmax END) + 1, 0)
        |           AS BIGINT) AS lstar,
        |         CAST(SUM(c) AS BIGINT) AS n
        |  FROM surv),
        |sk AS MATERIALIZED (SELECT v, h FROM lv, meta WHERE lmax >= lstar),
        |skm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM sk),
        |sk_ord AS MATERIALIZED (
        |  SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY v, h) AS BIGINT) AS pos
        |  FROM sk),
        |bks AS (SELECT CAST(unnest(generate_series(1, 16)) AS BIGINT)
        |          AS bucket),
        |bnd0 AS (
        |  SELECT bucket, o.v AS ub, lstar, n, m
        |  FROM bks CROSS JOIN skm CROSS JOIN meta
        |  JOIN sk_ord o ON o.pos = GREATEST(1, bucket * m // 16)),
        |bnd AS (
        |  SELECT bucket, LAG(ub) OVER (ORDER BY bucket) AS lo, ub,
        |         lstar, n, m
        |  FROM bnd0),
        |cnts AS (
        |  SELECT b.bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lv l JOIN bnd b
        |    ON (b.lo IS NULL OR l.v > b.lo)
        |   AND (l.v <= b.ub OR b.bucket = 16)
        |  GROUP BY 1),
        |fin AS (
        |  SELECT b.bucket, b.lo, b.ub, COALESCE(c.cnt, 0) AS cnt,
        |    CAST(SUM(COALESCE(c.cnt, 0)) OVER (ORDER BY b.bucket)
        |      AS BIGINT) AS exact_rank,
        |    b.n, b.m, b.lstar, b.bucket * 625 AS phi_bp
        |  FROM bnd b LEFT JOIN cnts c ON b.bucket = c.bucket)
        |SELECT bucket, lo, ub, cnt, exact_rank, n, m, lstar,
        |  CAST(CAST(abs(exact_rank * 10000 - phi_bp * n) AS HUGEINT)
        |         * abs(exact_rank * 10000 - phi_bp * n) * m
        |       <= CAST(25 AS HUGEINT) * phi_bp * (10000 - phi_bp)
        |          * n * n AS BIGINT) AS within_5sigma
        |FROM fin ORDER BY bucket""".stripMargin)),

    // ---- Per-group quantile summaries via the typed Aggregator
    // (ops/QuantileSketch.QuantileSketchAgg in KeyValueGroupedDataset
    // .agg — the Dataset-typed surface of the same sketch): one
    // partial-aggregating exchange carries ≤k pairs PER GROUP
    // regardless of group size, the per-group p50/p95 read off the
    // sketch's own order statistics. Because the sketch is an exact
    // function of each group's multiset, the whole result is
    // hash-exact cross-engine: DuckDB replays the level sampling
    // PARTITIONed by group. k=64 forces real level-raising even at
    // sf0.001 (the capacity class the Aggregator spec pins). Scale
    // shape: this is the 100 TB "p95 tokens per source" monitoring
    // query — group count × k rows after partial aggregation, never
    // corpus-sized state.
    "q_group_quantiles" -> QueryDef(
      fn = (spark, dir) => {
        import spark.implicits._
        val k = 64
        val docs = Tables(spark, dir, "documents").select(
          col("source"),
          graft.ops.QuantileSketch.hash60(col("doc_id").cast("string"))
            .as("h"),
          col("n_chars").cast("long").as("v"))
        val agg = new graft.ops.QuantileSketch.QuantileSketchAgg(k)
        docs.as[(String, Long, Long)]
          .groupByKey(_._1)
          .mapValues(t => (t._2, t._3))
          .agg(agg.toColumn.name("sk"))
          .map { case (src, sk) =>
            (src, sk.level.toLong, sk.total, sk.items.size.toLong,
              sk.quantile(5000L).get, sk.quantile(9500L).get)
          }
          .toDF("source", "lstar", "n", "m", "p50_v", "p95_v")
          .orderBy("source")
      },
      oracle = Some("""
        |WITH src AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS v,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM documents),
        |lv AS MATERIALIZED (
        |  SELECT source, v, h,
        |    CASE WHEN h = 0 THEN 60 ELSE 60 - length(bin(h)) END AS lmax
        |  FROM src),
        |surv AS (
        |  SELECT source, lmax, c,
        |    SUM(c) OVER (PARTITION BY source ORDER BY lmax DESC) AS s
        |  FROM (SELECT source, lmax, COUNT(*) AS c FROM lv GROUP BY 1, 2)),
        |meta AS MATERIALIZED (
        |  SELECT source,
        |    CAST(COALESCE(MAX(CASE WHEN s > 64 THEN lmax END) + 1, 0)
        |      AS BIGINT) AS lstar,
        |    CAST(SUM(c) AS BIGINT) AS n
        |  FROM surv GROUP BY 1),
        |sk AS MATERIALIZED (
        |  SELECT l.source, l.v, l.h, m.lstar, m.n
        |  FROM lv l JOIN meta m ON l.source = m.source
        |  WHERE l.lmax >= m.lstar),
        |skm AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS m
        |        FROM sk GROUP BY 1),
        |ord AS (
        |  SELECT source, v,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, h)
        |      AS BIGINT) AS pos
        |  FROM sk)
        |SELECT m.source, m.lstar, m.n, k.m,
        |  o50.v AS p50_v, o95.v AS p95_v
        |FROM meta m JOIN skm k ON m.source = k.source
        |JOIN ord o50 ON o50.source = m.source
        |  AND o50.pos = GREATEST(1, 5000 * k.m // 10000)
        |JOIN ord o95 ON o95.source = m.source
        |  AND o95.pos = GREATEST(1, 9500 * k.m // 10000)
        |ORDER BY m.source""".stripMargin)),

    // ---- The SAME per-source quantiles SERVED from the maintained
    // per-group store (streaming/GroupQuantileMaintenance): the store
    // is built through two mergeDelta batches (odd/even doc_id) plus
    // a REPLAYED batch — the idempotency stamp makes the replay a
    // no-op — and the answer reads off the ≤k-row-per-group store
    // with no corpus rescan. Because each group's sketch is an exact
    // function of its multiset and merge is bit-exact, the served
    // numbers equal q_group_quantiles' from-scratch ones, and the
    // oracle (the same per-group level-sampling replay over raw
    // documents) proves the maintenance loop lossless end-to-end.
    // Scale shape: serving is a store read (groups × k rows); each
    // maintenance batch pays one partial-aggregated exchange of its
    // OWN rows only.
    "q_group_quantiles_served" -> QueryDef(
      fn = (spark, dir) => {
        val store = groupQuantileStoreFor(spark, dir)
        graft.streaming.GroupQuantileMaintenance
          .quantilesFrame(spark, store, k = 64)
          .orderBy("source")
      },
      oracle = Some("""
        |WITH src AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS v,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM documents),
        |lv AS MATERIALIZED (
        |  SELECT source, v, h,
        |    CASE WHEN h = 0 THEN 60 ELSE 60 - length(bin(h)) END AS lmax
        |  FROM src),
        |surv AS (
        |  SELECT source, lmax, c,
        |    SUM(c) OVER (PARTITION BY source ORDER BY lmax DESC) AS s
        |  FROM (SELECT source, lmax, COUNT(*) AS c FROM lv GROUP BY 1, 2)),
        |meta AS MATERIALIZED (
        |  SELECT source,
        |    CAST(COALESCE(MAX(CASE WHEN s > 64 THEN lmax END) + 1, 0)
        |      AS BIGINT) AS lstar,
        |    CAST(SUM(c) AS BIGINT) AS n
        |  FROM surv GROUP BY 1),
        |sk AS MATERIALIZED (
        |  SELECT l.source, l.v, l.h, m.lstar, m.n
        |  FROM lv l JOIN meta m ON l.source = m.source
        |  WHERE l.lmax >= m.lstar),
        |skm AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS m
        |        FROM sk GROUP BY 1),
        |ord AS (
        |  SELECT source, v,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, h)
        |      AS BIGINT) AS pos
        |  FROM sk)
        |SELECT m.source, m.lstar, m.n, k.m,
        |  o50.v AS p50_v, o95.v AS p95_v
        |FROM meta m JOIN skm k ON m.source = k.source
        |JOIN ord o50 ON o50.source = m.source
        |  AND o50.pos = GREATEST(1, 5000 * k.m // 10000)
        |JOIN ord o95 ON o95.source = m.source
        |  AND o95.pos = GREATEST(1, 9500 * k.m // 10000)
        |ORDER BY m.source""".stripMargin)),

    // ---- Per-group EQUI-DEPTH HISTOGRAM served from the same
    // maintained store (GroupQuantileMaintenance.boundariesFrame —
    // the grouped face of Histogram.sketchBoundaries): 4 boundaries
    // per source read off the ≤k-row-per-group store as ONE
    // DataFrame plan whose every exchange is group-keyed over
    // groups×k rows. The oracle replays the per-group level sampling
    // AND the boundary rule (position b·m div 4 in (v,h) order), so
    // the hash gate pins the whole serve path. The 100 TB shape of
    // "per-source length distribution, always fresh".
    "q_group_histogram_served" -> QueryDef(
      fn = (spark, dir) => {
        val store = groupQuantileStoreFor(spark, dir)
        graft.streaming.GroupQuantileMaintenance
          .boundariesFrame(spark, store, buckets = 4)
          .orderBy("source", "bucket")
      },
      oracle = Some("""
        |WITH src AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS v,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM documents),
        |lv AS MATERIALIZED (
        |  SELECT source, v, h,
        |    CASE WHEN h = 0 THEN 60 ELSE 60 - length(bin(h)) END AS lmax
        |  FROM src),
        |surv AS (
        |  SELECT source, lmax, c,
        |    SUM(c) OVER (PARTITION BY source ORDER BY lmax DESC) AS s
        |  FROM (SELECT source, lmax, COUNT(*) AS c FROM lv GROUP BY 1, 2)),
        |meta AS MATERIALIZED (
        |  SELECT source,
        |    CAST(COALESCE(MAX(CASE WHEN s > 64 THEN lmax END) + 1, 0)
        |      AS BIGINT) AS lstar,
        |    CAST(SUM(c) AS BIGINT) AS n
        |  FROM surv GROUP BY 1),
        |sk AS MATERIALIZED (
        |  SELECT l.source, l.v, l.h
        |  FROM lv l JOIN meta m ON l.source = m.source
        |  WHERE l.lmax >= m.lstar),
        |skm AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS m
        |        FROM sk GROUP BY 1),
        |ord AS (
        |  SELECT source, v,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, h)
        |      AS BIGINT) AS pos
        |  FROM sk),
        |pos AS (
        |  SELECT k.source, CAST(b.bucket AS BIGINT) AS bucket,
        |    GREATEST(1, CAST(b.bucket AS BIGINT) * k.m // 4) AS pos, k.m
        |  FROM skm k CROSS JOIN range(1, 5) b(bucket)),
        |ubs AS (
        |  SELECT p.source, p.bucket, o.v AS ub, p.m
        |  FROM pos p JOIN ord o ON o.source = p.source AND o.pos = p.pos)
        |SELECT u.source, u.bucket,
        |  LAG(u.ub) OVER (PARTITION BY u.source ORDER BY u.bucket) AS lo,
        |  u.ub, m2.lstar, m2.n, u.m
        |FROM ubs u JOIN meta m2 ON u.source = m2.source
        |ORDER BY u.source, u.bucket""".stripMargin)),

    // ---- Count-Min sketch heavy-key estimation — the frequency
    // sketch of the family (KMV counts distincts, Misra–Gries finds
    // heavy hitters, CMS answers "how often?" for ANY key from d×w
    // integers). Like q_kmv_distinct it is an APPROX structure that is
    // nonetheless hash-checkable cross-engine: the d=4 row hashes are
    // the shared 60-bit md5 construction keyed "i:key", so both
    // engines build the identical 4×256 cell table and the estimate
    // (min over the key's 4 cells) replays exactly. The exact
    // per-key counts exist only to score the sketch (est ≥ exact
    // always; the gap is the collision mass — CountMinSpec pins the
    // one-sided guarantee).
    // Scale shape: the sketch build is the whole point at 100 TB —
    // the exploded (i, bucket) stream partial-aggregates to ≤ d·w =
    // 1024 cells PER PARTITION before the exchange, so the shuffle
    // carries ≤ 1024 rows per task regardless of corpus size (an
    // exact per-key count shuffles the full key space instead).
    // Estimation joins the 10 probe keys' 40 coordinates against the
    // broadcast 1024-cell table. Sketches of disjoint corpora ADD
    // cell-wise (linear), which is what makes CMS the mergeable
    // per-shard summary.
    "q_countmin_heavy" -> QueryDef(
      fn = (spark, dir) => {
        val d = 4
        val w = 256L
        val li = Tables(spark, dir, "lineitem").select(col("l_suppkey"))
        def buckets(key: Column): Column = array((0 until d).map { i =>
          struct(lit(i).as("i"),
            pmod(conv(md5(concat(lit(s"$i:"), key.cast("string")))
              .substr(1, 15), 16, 10).cast("long"), lit(w)).as("b"))
        }: _*)
        val cells = li.select(explode(buckets(col("l_suppkey"))).as("ib"))
          .groupBy(col("ib.i").as("i"), col("ib.b").as("b"))
          .agg(count(lit(1)).as("c"))
        // the evaluation side: exact counts for the 10 heaviest keys
        // (deterministic total order under ties) + their coordinates
        val heavy = li.groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("l_suppkey"))
          .limit(10)
        heavy
          .select(col("l_suppkey").cast("long").as("suppkey"),
            col("exact_cnt"),
            explode(buckets(col("l_suppkey"))).as("ib"))
          .select(col("suppkey"), col("exact_cnt"),
            col("ib.i").as("i"), col("ib.b").as("b"))
          .join(broadcast(cells), Seq("i", "b"))
          .groupBy("suppkey", "exact_cnt")
          .agg(min(col("c")).as("cms_est"))
          .withColumn("overest", col("cms_est") - col("exact_cnt"))
          .select("suppkey", "exact_cnt", "cms_est", "overest")
          .orderBy(col("exact_cnt").desc, col("suppkey"))
      },
      oracle = Some("""
        |WITH cells AS (
        |  SELECT g.i,
        |    CAST(('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' ||
        |      CAST(l.l_suppkey AS VARCHAR)), 1, 15)) AS BIGINT) % 256 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem l, (SELECT unnest(generate_series(0, 3)) AS i) g
        |  GROUP BY 1, 2),
        |heavy AS (
        |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        |  FROM lineitem GROUP BY 1
        |  ORDER BY exact_cnt DESC, l_suppkey LIMIT 10),
        |coords AS (
        |  SELECT CAST(h.l_suppkey AS BIGINT) AS suppkey, h.exact_cnt, g.i,
        |    CAST(('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' ||
        |      CAST(h.l_suppkey AS VARCHAR)), 1, 15)) AS BIGINT) % 256 AS b
        |  FROM heavy h, (SELECT unnest(generate_series(0, 3)) AS i) g)
        |SELECT co.suppkey, co.exact_cnt, MIN(ce.c) AS cms_est,
        |  MIN(ce.c) - co.exact_cnt AS overest
        |FROM coords co JOIN cells ce ON co.i = ce.i AND co.b = ce.b
        |GROUP BY co.suppkey, co.exact_cnt
        |ORDER BY co.exact_cnt DESC, co.suppkey""".stripMargin)),

    // ---- Join-size estimation from two Count-Min sketches (the
    // AMS/CMS inner-product estimator): |R ⋈ S on k| = Σ_k r_k·s_k,
    // and min_i Σ_b cellR(i,b)·cellS(i,b) overestimates it by exactly
    // the cross-key collision mass — the planner-style "how big would
    // this join be" answer from two 1024-cell summaries, WITHOUT
    // paying the join. Sketches reuse q_countmin_heavy's cross-engine
    // construction, so the whole estimate replays in DuckDB. The
    // exact side (the evaluation) is the per-key count join — the
    // very cost the sketch avoids at scale: two corpus-sized
    // partial-agg passes vs two ≤ d·w-row summaries that may already
    // exist (SketchMaintenance keeps them fresh incrementally).
    // WIDTH SIZING: expected collision mass is |R|·|S|/w, so unlike
    // the point-query sketch (w=256 suffices — error there is N/w per
    // key) the join estimator's width must scale with the COUNT
    // PRODUCT: w=65536 puts the expected overestimate at ~23% of the
    // true size here (measured 21% at sf0.1; w=256 measured 58×).
    // 4×65536 cells is still ~2 MB — broadcast-class.
    // Overflow bound: Σ_b cellR·cellS ≤ |R|·|S| must stay under 2^63
    // — holds to ~3e9 rows a side; past that, scale the cells down.
    "q_joinsize_sketch" -> QueryDef(
      fn = (spark, dir) => {
        val d = 4
        val w = 65536L
        def cells(df: DataFrame, key: Column): DataFrame =
          df.select(explode(array((0 until d).map { i =>
            struct(lit(i).as("i"),
              pmod(conv(md5(concat(lit(s"$i:"), key.cast("string")))
                .substr(1, 15), 16, 10).cast("long"), lit(w)).as("b"))
          }: _*)).as("ib"))
            .groupBy(col("ib.i").as("i"), col("ib.b").as("b"))
            .agg(count(lit(1)).as("c"))
        val orders = Tables(spark, dir, "orders")
        val events = Tables(spark, dir, "events")
        val co = cells(orders, col("o_custkey"))
          .select(col("i"), col("b"), col("c").as("co"))
        val ce = cells(events, col("user_id"))
          .select(col("i"), col("b"), col("c").as("ce"))
        val est = co.join(ce, Seq("i", "b"))
          .groupBy("i").agg(sum(col("co") * col("ce")).as("ip"))
          .agg(min(col("ip")).as("est_size"))
        val exact = orders.groupBy(col("o_custkey").as("k"))
          .agg(count(lit(1)).as("n_o"))
          .join(events.groupBy(col("user_id").as("k"))
            .agg(count(lit(1)).as("n_e")), "k")
          .agg(coalesce(sum(col("n_o") * col("n_e")), lit(0L))
            .as("exact_size"))
        exact.crossJoin(est)
          .withColumn("overest", col("est_size") - col("exact_size"))
          .select("exact_size", "est_size", "overest")
      },
      oracle = Some("""
        |WITH co AS (
        |  SELECT g.i,
        |    CAST(('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' ||
        |      CAST(o.o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 65536 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS co
        |  FROM orders o, (SELECT unnest(generate_series(0, 3)) AS i) g
        |  GROUP BY 1, 2),
        |ce AS (
        |  SELECT g.i,
        |    CAST(('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' ||
        |      CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 65536 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS ce
        |  FROM events e, (SELECT unnest(generate_series(0, 3)) AS i) g
        |  GROUP BY 1, 2),
        |est AS (
        |  SELECT MIN(ip) AS est_size FROM (
        |    SELECT co.i, CAST(SUM(co.co * ce.ce) AS BIGINT) AS ip
        |    FROM co JOIN ce ON co.i = ce.i AND co.b = ce.b
        |    GROUP BY co.i)),
        |ex AS (
        |  SELECT CAST(COALESCE(SUM(n_o * n_e), 0) AS BIGINT) AS exact_size
        |  FROM (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_o
        |        FROM orders GROUP BY 1) o
        |  JOIN (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS n_e
        |        FROM events GROUP BY 1) e USING (k))
        |SELECT exact_size, est_size, est_size - exact_size AS overest
        |FROM ex CROSS JOIN est""".stripMargin)),

    // ---- Poisson bootstrap: B=16 replicate means of the order value
    // in ONE scan — the scalable bootstrap (each row draws a
    // Poisson(1) replication weight per replicate instead of the
    // row-count-coupled multinomial of classical resampling, so the
    // draw is per-row independent and map-side). Uncertainty on a
    // corpus statistic without B passes: the only shuffle is the
    // B-row aggregation, and the explode fan-out is map-side (16×
    // narrow rows, never materialized wide).
    // Determinism across engines: the "randomness" is the shared
    // md5/60-bit construction from q_kmv_distinct keyed on
    // (o_orderkey, b); the Poisson(1) inverse CDF is a CASE ladder
    // over LITERAL cumulative thresholds (e^-1 Σ 1/k! as double
    // constants — both engines compare against the same bits, no
    // transcendental is ever EVALUATED); weights are small ints,
    // weighted sums exact decimals, and the final mean is one
    // decimal→double division. Clipped at w=8 (tail mass ~1e-6) —
    // same clip both sides.
    "q_poisson_bootstrap" -> QueryDef(
      fn = (spark, dir) => {
        val B = 16
        // cumulative Poisson(1) CDF at k = 0..7
        val cdf = Seq(0.36787944117144233, 0.7357588823428847,
          0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
          0.9994058151824183, 0.9999167588507119, 0.9999897508033253)
        def d(c: Column): Column = c.cast("decimal(38,0)")
        val rep = Tables(spark, dir, "orders")
          .select(col("o_orderkey"),
            floor(col("o_totalprice") * 100 + 0.5).as("p100"))
          .select(col("o_orderkey"), col("p100"),
            explode(sequence(lit(0), lit(B - 1))).as("b"))
        val h = conv(md5(concat(col("o_orderkey").cast("string"), lit(":"),
          col("b").cast("string"))).substr(1, 15), 16, 10).cast("long")
        val u = h.cast("double") / lit(1152921504606846976L).cast("double")
        val w = cdf.zipWithIndex.reverse
          .foldLeft(lit(8L): Column) { case (acc, (th, k)) =>
            when(u < lit(th), lit(k.toLong)).otherwise(acc)
          }
        rep.select(col("b"), col("p100"), w.as("w"))
          .groupBy("b")
          .agg(sum(col("w")).as("n_eff"),
            sum(d(col("w")) * d(col("p100"))).as("wp"))
          .select(col("b").cast("long").as("b"),
            col("n_eff").cast("long").as("n_eff"),
            (col("wp").cast("double") / col("n_eff").cast("double"))
              .as("mean_price_e2"))
          .orderBy("b")
      },
      oracle = Some("""
        |WITH o AS (
        |  SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS HUGEINT) AS p100
        |  FROM orders),
        |rep AS (
        |  SELECT o_orderkey, p100, b
        |  FROM o CROSS JOIN (SELECT unnest(range(0, 16)) AS b)),
        |hh AS (
        |  SELECT b, p100,
        |    CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
        |      || ':' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
        |      / CAST(1152921504606846976 AS DOUBLE) AS u
        |  FROM rep),
        |ww AS (
        |  SELECT b, p100,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.9999167588507119 THEN 6
        |         WHEN u < 0.9999897508033253 THEN 7
        |         ELSE 8 END AS w
        |  FROM hh)
        |SELECT CAST(b AS BIGINT) AS b,
        |  CAST(SUM(w) AS BIGINT) AS n_eff,
        |  CAST(SUM(CAST(w AS HUGEINT) * p100) AS DOUBLE)
        |    / CAST(SUM(w) AS DOUBLE) AS mean_price_e2
        |FROM ww GROUP BY b ORDER BY b""".stripMargin)),

    "q_topk_operator" -> QueryDef(
      fn = (spark, dir) => graft.plans.TopK.perKey(
          Tables(spark, dir, "orders"), 3,
          Seq("o_custkey"), Seq("o_totalprice" -> false, "o_orderkey" -> true))
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "o_orderkey"),
      oracle = Some("""
        |SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
      bench = true),

    // ---- Salted join (skew mitigation): same result as the plain
    // equi-join — which is exactly what the oracle checks — but no
    // reducer ever receives a whole hot key (salt spreads each key's
    // rows; the small side is replicated per salt bucket).
    "q_salted_join" -> QueryDef(
      fn = (spark, dir) => {
        val li = Tables(spark, dir, "lineitem")
        val ord = Tables(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
        graft.ops.ScaleJoins.saltedJoin(
          li.withColumnRenamed("l_orderkey", "o_orderkey"), ord,
          key = "o_orderkey", leftUniqueCol = "l_linenumber", salts = 4)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_lines"),
            sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        |SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      bench = true),

    // ---- Sketch-driven adaptive salting: lang is a 5-value key
    // holding ~20% of documents each — a classic hot-key join. The
    // MisraGries sketch detects the hot keys, only they are salted,
    // and the result hash-matches the plain join (which is exactly
    // what the oracle runs).
    "q_adaptive_salted_join" -> QueryDef(
      fn = (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val byLang = docs.groupBy("lang")
          .agg(count(lit(1)).as("lang_total"))
        graft.ops.ScaleJoins.adaptiveSaltedJoin(
          docs.select(col("doc_id"), col("lang")), byLang,
          key = "lang", leftUniqueCol = "doc_id", salts = 4)
          .select("doc_id", "lang", "lang_total")
          .orderBy("doc_id")
      },
      oracle = Some("""
        |SELECT d.doc_id, d.lang, l.lang_total
        |FROM documents d
        |JOIN (SELECT lang, COUNT(*) AS lang_total
        |      FROM documents GROUP BY lang) l USING (lang)
        |ORDER BY d.doc_id""".stripMargin)),

    // ---- Cost-based multi-join ordering (TableStats.statsMultiJoin):
    // a 4-table star handed over as an unordered relation set — the
    // greedy planner seeds from the cheapest measured edge
    // (customer ⋈ filtered-nation), so the fact table joins LAST
    // against already-reduced sides instead of first against
    // everything (the written-order plan a user would get). Inner
    // equi-joins are order-independent, so the oracle replays the
    // join in the naive written order — the hash match proves the
    // reordering changes cost only, never rows. Stats are measured
    // on the FILTERED frames (one aggregate pass each, the ANALYZE
    // price), which is what Spark's file-size cost model loses the
    // moment a selective filter intervenes.
    "q_join_reorder" -> QueryDef(
      fn = (spark, dir) => {
        import graft.ops.TableStats.{JoinEdge, Rel}
        def rel(n: String, df: org.apache.spark.sql.DataFrame) =
          Rel(n, df, graft.ops.TableStats.collect(df))
        // widen the fact projection: the stats pass AND the final
        // broadcast-probe + md5 + rollup all plan into the lineitem
        // scan stage, which is ONE task on a single-row-group file
        // (ops/Parallelism; identity on a healthily-split scan)
        val li = graft.ops.Parallelism.widen(
          Tables(spark, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity"),
          col("l_orderkey"))
        val ord = Tables(spark, dir, "orders")
          .select("o_orderkey", "o_custkey")
        val cust = Tables(spark, dir, "customer")
          .select("c_custkey", "c_nationkey")
        val nat = Tables(spark, dir, "nation")
          .filter(col("n_nationkey") < 5)
          .select("n_nationkey", "n_name")
        graft.ops.TableStats.statsMultiJoin(
          Seq(rel("lineitem", li), rel("orders", ord),
            rel("customer", cust), rel("nation", nat)),
          Seq(
            JoinEdge("lineitem", "orders", Seq(("l_orderkey", "o_orderkey"))),
            JoinEdge("orders", "customer", Seq(("o_custkey", "c_custkey"))),
            JoinEdge("customer", "nation", Seq(("c_nationkey", "n_nationkey")))))
          .withColumn("__h60",
            conv(md5(concat(col("l_orderkey").cast("string"), lit(":"),
              col("l_linenumber").cast("string"))).substr(1, 15), 16, 10)
              .cast("long"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            expr("bit_xor(__h60)").as("ids_xor60"))
          .orderBy("n_name")
      },
      oracle = Some("""
        |SELECT n_name, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  bit_xor(CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
        |    || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT)) AS ids_xor60
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_nationkey < 5
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
      bench = true),

    // ---- Map-type scalar surface: construct, extract, count, and
    // enumerate keys (scalar outputs only — map columns themselves
    // don't survive the driver's column-wise hash compare).
    "q_map_functions" -> QueryDef(
      fn = (spark, dir) => Tables(spark, dir, "orders")
        .filter(col("o_custkey") < 30)
        .select(col("o_orderkey"),
          map(lit("priority"), col("o_orderpriority"),
            lit("status"), col("o_orderstatus")).as("m"))
        .select(col("o_orderkey"),
          element_at(col("m"), "priority").as("priority"),
          element_at(col("m"), "status").as("status"),
          size(col("m")).cast("long").as("n_entries"),
          concat_ws(",", array_sort(map_keys(col("m")))).as("keys_csv"))
        .orderBy("o_orderkey"),
      oracle = Some("""
        |WITH m AS (
        |  SELECT o_orderkey,
        |    MAP(['priority','status'], [o_orderpriority, o_orderstatus]) AS m
        |  FROM orders WHERE o_custkey < 30)
        |SELECT o_orderkey,
        |  m['priority'][1] AS priority,
        |  m['status'][1] AS status,
        |  CAST(cardinality(m) AS BIGINT) AS n_entries,
        |  array_to_string(list_sort(map_keys(m)), ',') AS keys_csv
        |FROM m ORDER BY o_orderkey""".stripMargin)),

    // ---- Approximate aggregates WITH their error certificate: HLL++
    // distinct count and quantile sketch — THE aggregates that matter
    // at 100 TB (fixed-size state, single pass, mergeable across
    // partitions). The sketch VALUES are engine-specific (no
    // cross-engine hash is possible for them), but their ERROR BOUNDS
    // are checkable claims — so the query computes, in-engine, whether
    // each approximate answer sits inside its documented bound vs the
    // exact answer (|approx−exact| within 4× the 2% rsd for HLL++,
    // approx-median between exact P40 and P60 for the 1e-3-accuracy
    // KLL) and EXPORTS the exact values plus the within-bound flags.
    // The flags are deterministic — comfortably inside the bound at
    // every scale — so the oracle is the exact counts plus all-ones
    // over the same groups, and the approx surface is fully
    // hash-checked: the sketches run in the plan, their accuracy is
    // the asserted output. Integer comparisons only
    // (|a−e|·100 ≤ e·8 in BIGINT), no float thresholds cross the
    // engine boundary.
    "q_approx_aggs" -> QueryDef(
      fn = (spark, dir) => Tables(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          percentile(col("l_extendedprice"), lit(0.4)).as("p40"),
          percentile(col("l_extendedprice"), lit(0.6)).as("p60"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("approx_median"))
        .select(
          col("l_returnflag"),
          col("exact_orders"),
          col("exact_parts"),
          (abs(col("approx_orders") - col("exact_orders")) * 100 <=
            col("exact_orders") * 8).cast("long").as("orders_in_bound"),
          (abs(col("approx_parts") - col("exact_parts")) * 100 <=
            col("exact_parts") * 8).cast("long").as("parts_in_bound"),
          (col("approx_median") >= col("p40") &&
            col("approx_median") <= col("p60"))
            .cast("long").as("median_in_bound"))
        .orderBy("l_returnflag"),
      oracle = Some("""
        |SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS exact_orders,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  CAST(1 AS BIGINT) AS orders_in_bound,
        |  CAST(1 AS BIGINT) AS parts_in_bound,
        |  CAST(1 AS BIGINT) AS median_in_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- Nested/array types: per-customer sorted order-price list +
    // array ops over it (the collect + array-function surface).
    "q_array_agg" -> QueryDef(
      fn = (spark, dir) => Tables(spark, dir, "orders")
        .filter(col("o_custkey") < 50)
        .groupBy("o_custkey")
        .agg(array_sort(collect_list(col("o_totalprice"))).as("prices"))
        .select(
          col("o_custkey"),
          size(col("prices")).cast("long").as("n_orders"),
          element_at(col("prices"), 1).as("min_price"),
          element_at(col("prices"), -1).as("max_price"),
          // scalar output only: array-typed result columns don't
          // survive the driver's column-wise hash compare
          aggregate(slice(col("prices"), 1, 3), lit(0.0), (a, v) => a + v)
            .as("cheapest3_sum"))
        .orderBy("o_custkey"),
      oracle = Some("""
        |SELECT o_custkey,
        |  CAST(len(list_sort(list(o_totalprice))) AS BIGINT) AS n_orders,
        |  list_sort(list(o_totalprice))[1] AS min_price,
        |  list_sort(list(o_totalprice))[-1] AS max_price,
        |  list_reduce(list_prepend(0.0, list_sort(list(o_totalprice))[1:3]), (a, v) -> a + v) AS cheapest3_sum
        |FROM orders WHERE o_custkey < 50
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // ---- Two-phase exact distinct — the at-scale rewrite of
    // COUNT(DISTINCT): phase 1 pre-aggregates on (group, distinct-key)
    // so the shuffle carries one row per distinct pair (map-side
    // combined) instead of the raw rows; phase 2 counts pairs per
    // group. Unlike the built-in distinct-agg Expand, mixing the
    // distinct count with companion SUMs costs no row multiplication,
    // and no single reducer ever holds a hot group's full value set.
    "q_twophase_distinct" -> QueryDef(
      fn = (spark, dir) => Tables(spark, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("pn"))
        .groupBy("event_type")
        // COUNT(DISTINCT x) ignores NULLs — the phase-2 count must too,
        // or a null user_id group would inflate n_users by one
        .agg(count(col("user_id")).as("n_users"), sum(col("pn")).as("n_events"))
        .orderBy("event_type"),
      oracle = Some("""
        |SELECT event_type,
        |       COUNT(DISTINCT user_id) AS n_users,
        |       COUNT(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- Exact percentiles (integer column => exact interpolated
    // values on both engines; single-pass sort-based aggregate).
    // ---- FREQUENT-ITEMSET PAIRS (market basket): which part brands are
    // co-ordered? The scale shape is a-priori: an item whose basket
    // support is below the floor cannot appear in any pair at/above the
    // floor (support is anti-monotone), so infrequent items are dropped
    // BEFORE the within-basket pair expansion. The surviving item list
    // is provably bounded — sum(support) = |(basket,item)| rows, so at
    // share floor s there are at most avgBasketSize/s frequent items —
    // which is what makes the semi-join broadcast safe at any corpus
    // size. Pair expansion is an equi-join on the basket key (bounded
    // by basket size, never all-pairs); pair counting shuffles on the
    // bounded pair space. The ORACLE is the brute-force mining WITHOUT
    // the prune, so the hash gate doubles as the losslessness proof
    // (top-k is unaffected because every top-k pair clears the floor).
    "q_itemset_pairs" -> QueryDef(
      fn = (spark, dir) => {
        val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_partkey")
        val parts = Tables(spark, dir, "part").select("p_partkey", "p_brand")
        val items = li.join(broadcast(parts),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("ok"), col("p_brand").as("item"))
          .distinct()
        frequentPairs(items, Tables(spark, dir, "orders"),
          minShare = 0.01, k = 25)
      },
      oracle = Some("""
        |WITH items AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS item
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |pairs AS (
        |  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_baskets_together
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
        |  GROUP BY 1, 2)
        |SELECT item_a, item_b, n_baskets_together
        |FROM pairs
        |ORDER BY n_baskets_together DESC, item_a, item_b
        |LIMIT 25""".stripMargin)),

    // ---- ASSOCIATION RULES — the directional second half of the
    // a-priori story (q_itemset_pairs mines frequent PAIRS; a rule
    // a→b adds the conditional read: "baskets holding a also hold b
    // conf% of the time, lift× more often than b's base rate").
    // Confidence and lift are exact integer ratios (conf_bp =
    // 10000·n_ab div n_a; lift_x100 = 100·n_ab·N div (n_a·n_b)), so
    // the report hash-matches. Scale shape: the basket-item frame is
    // persisted once (swap-release) and feeds the pair self-join +
    // the support counts; undirected pair counts expand to both rule
    // directions by a generator (inline) — counting each direction
    // separately would double the join work for a symmetric number.
    // Supports are a ~|items|-row broadcast; the 1%-share floor keeps
    // the rule set scale-stable.
    "q_assoc_rules" -> QueryDef(
      fn = (spark, dir) => {
        val li = Tables(spark, dir, "lineitem")
          .select("l_orderkey", "l_partkey")
        val parts = Tables(spark, dir, "part")
          .select("p_partkey", "p_brand")
        val items = graft.ops.BuildOnce.swapPersist(lastRuleItems,
          li.join(broadcast(parts), col("l_partkey") === col("p_partkey"))
            .select(col("l_orderkey").as("ok"), col("p_brand").as("item"))
            .distinct())
        val supp = items.groupBy("item").agg(count(lit(1)).as("n_item"))
        val nb = items.agg(countDistinct(col("ok")).as("n_baskets"))
        val a = items.select(col("ok"), col("item").as("item_a"))
        val b = items.select(col("ok"), col("item").as("item_b"))
        val pairs = a.join(b, "ok")
          .filter(col("item_a") < col("item_b"))
          .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_ab"))
        val rules = pairs.select(expr(
          "inline(array(struct(item_a AS ante, item_b AS cons, n_ab)," +
            " struct(item_b AS ante, item_a AS cons, n_ab)))"))
        rules
          .join(broadcast(supp.select(col("item").as("ante"),
            col("n_item").as("n_a"))), "ante")
          .join(broadcast(supp.select(col("item").as("cons"),
            col("n_item").as("n_b"))), "cons")
          .crossJoin(broadcast(nb))
          .filter(col("n_ab") * 100 >= col("n_baskets"))
          .select(col("ante"), col("cons"), col("n_ab"), col("n_a"),
            col("n_b"), col("n_baskets"),
            expr("n_ab * 10000 div n_a").as("conf_bp"),
            expr("(n_ab * 100 * n_baskets) div (n_a * n_b)")
              .as("lift_x100"))
          .orderBy(col("conf_bp").desc, col("ante"), col("cons"))
          .limit(25)
      },
      oracle = Some("""
        |WITH items AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS item
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |supp AS (SELECT item, COUNT(*) AS n_item FROM items GROUP BY 1),
        |nb AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM items),
        |pairs AS (
        |  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
        |  GROUP BY 1, 2),
        |rules AS (
        |  SELECT item_a AS ante, item_b AS cons, n_ab FROM pairs
        |  UNION ALL
        |  SELECT item_b AS ante, item_a AS cons, n_ab FROM pairs)
        |SELECT r.ante, r.cons, r.n_ab,
        |  sa.n_item AS n_a, sb.n_item AS n_b, nb.n_baskets,
        |  r.n_ab * 10000 // sa.n_item AS conf_bp,
        |  (r.n_ab * 100 * nb.n_baskets) // (sa.n_item * sb.n_item)
        |    AS lift_x100
        |FROM rules r
        |JOIN supp sa ON r.ante = sa.item
        |JOIN supp sb ON r.cons = sb.item
        |CROSS JOIN nb
        |WHERE r.n_ab * 100 >= nb.n_baskets
        |ORDER BY conf_bp DESC, ante, cons
        |LIMIT 25""".stripMargin)),

    // ---- JOIN-KEY SKEW REPORT: the measurement half of the skew story
    // (q_adaptive_salted_join ACTS on hot keys; this is the report a
    // pipeline runs first to decide whether salting is needed at all).
    // One map-side-combined count per key, a one-row global stat frame
    // broadcast back, and a TakeOrdered top-10 — nothing here is
    // proportional to anything but the key cardinality. share_bp /
    // ratio_x100 are single-expression double rounds (floor(x+0.5),
    // fixed op order) so the report hash-matches the oracle exactly.
    "q_skew_report" -> QueryDef(
      fn = (spark, dir) => {
        val keys = Tables(spark, dir, "lineitem")
          .groupBy(col("l_partkey").as("part_key"))
          .agg(count(lit(1)).as("cnt"))
        val stats = keys.agg(
          count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"))
        keys.crossJoin(broadcast(stats))
          .withColumn("share_bp",
            floor(col("cnt") * 10000.0 / col("n_rows") + 0.5).cast("long"))
          .withColumn("ratio_x100",
            floor(col("cnt") * 100.0 * col("n_keys") / col("n_rows") + 0.5)
              .cast("long"))
          .orderBy(col("cnt").desc, col("part_key"))
          .limit(10)
      },
      oracle = Some("""
        |WITH k AS (
        |  SELECT l_partkey AS part_key, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |s AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows
        |      FROM k)
        |SELECT part_key, cnt, n_keys, n_rows,
        |  CAST(FLOOR(cnt * 10000.0 / n_rows + 0.5) AS BIGINT) AS share_bp,
        |  CAST(FLOOR(cnt * 100.0 * n_keys / n_rows + 0.5) AS BIGINT) AS ratio_x100
        |FROM k, s
        |ORDER BY cnt DESC, part_key
        |LIMIT 10""".stripMargin)),

    "q_percentiles" -> QueryDef(
      fn = (spark, dir) => Tables(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          percentile(col("l_quantity"), lit(0.25)).as("p25"),
          percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.75)).as("p75"),
          percentile(col("l_quantity"), lit(0.99)).as("p99"))
        .orderBy("l_returnflag"),
      oracle = Some("""
        |SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  quantile_cont(l_quantity, 0.99) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- EXACT global median over an UNBOUNDED frame — the
    // ops/ExactRank showcase. q_percentiles is the engine aggregate
    // (interpolating, per-group); q_iqr_outliers/q_mad_outliers rank
    // WITHIN types (parallel across groups); q_theil_sen ranks a
    // bounded pair frame. This one selects a single global order
    // statistic over every lineitem row — the shape that classically
    // serializes through one task (single-partition row_number) and
    // here runs as a range-partitioned parallel selection instead:
    // distributed sort, mono-id local ranks, prefix-sum offsets over
    // the ≤32-row partition-count frame, broadcast filter. The
    // selected element is a stored DECIMAL(12,2); one cast to double
    // at the output boundary is the same IEEE round-to-nearest in
    // both engines. Tiebreak (l_orderkey, l_linenumber) totalizes the
    // order so both engines pick the same physical row.
    "q_exact_median" -> QueryDef(
      fn = (spark, dir) => {
        val li = Tables(spark, dir, "lineitem")
          .select(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber"))
        graft.ops.ExactRank
          .selectRank(li,
            Seq(col("l_extendedprice"), col("l_orderkey"),
              col("l_linenumber")),
            graft.ops.ExactRank.lowerMedian, nCol = "n_rows")
          .select(
            col("l_extendedprice").cast("double").as("median_price"),
            col("n_rows"))
      },
      oracle = Some("""
        |WITH r AS (
        |  SELECT l_extendedprice,
        |    ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
        |                       l_linenumber) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM lineitem)
        |SELECT CAST(l_extendedprice AS DOUBLE) AS median_price,
        |  CAST(n AS BIGINT) AS n_rows
        |FROM r WHERE rn = (n-1)//2 + 1""".stripMargin),
      bench = true),

    // ---- Exact P25/P50/P75/P99 in ONE distributed pass
    // (ExactRank.selectRanks): m order statistics never cost m sorts —
    // one range sort, one offsets frame, one membership filter.
    // Unlike q_percentiles (interpolating engine aggregate), every
    // output is a stored data ELEMENT, so the oracle replays it
    // exactly. Rank arithmetic (n−1)·q div 100 + 1 stays integral on
    // both sides (Spark's truncating cast == DuckDB's // for
    // nonnegative operands; the double division is correctly rounded
    // and the true value is ≥0.01 from the integer boundary, so the
    // truncation never crosses it).
    "q_exact_quantiles" -> QueryDef(
      fn = (spark, dir) => {
        val li = Tables(spark, dir, "lineitem")
          .select(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber"))
        def k(n: Column, q: Int): Column =
          ((n - 1) * q / 100).cast("long") + 1
        val sel = graft.ops.ExactRank.selectRanks(li,
          Seq(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber")),
          n => Seq(25, 50, 75, 99).map(q => k(n, q)))
        val n = col("n_total")
        sel.select(
          when(col("rank") === k(n, 25), 25)
            .when(col("rank") === k(n, 50), 50)
            .when(col("rank") === k(n, 75), 75)
            .otherwise(99).as("pct"),
          col("l_extendedprice").cast("double").as("price"))
          .orderBy("pct")
      },
      oracle = Some("""
        |WITH r AS (
        |  SELECT l_extendedprice,
        |    ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
        |                       l_linenumber) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM lineitem)
        |SELECT CASE WHEN rn = (n-1)*25//100 + 1 THEN 25
        |            WHEN rn = (n-1)*50//100 + 1 THEN 50
        |            WHEN rn = (n-1)*75//100 + 1 THEN 75
        |            ELSE 99 END AS pct,
        |  CAST(l_extendedprice AS DOUBLE) AS price
        |FROM r
        |WHERE rn IN ((n-1)*25//100 + 1, (n-1)*50//100 + 1,
        |             (n-1)*75//100 + 1, (n-1)*99//100 + 1)
        |ORDER BY pct""".stripMargin)),

    // ---- Trimmed mean (robust location): the mean of the prices
    // between the exact P05 and P95 order-statistic VALUES — the
    // outlier-insensitive average every metrics pipeline wants once
    // heavy tails appear. Both trim bounds come from ONE
    // ExactRank.selectRanks pass (rank selection, not interpolation,
    // so the bounds are stored data and the trim is value-based —
    // every row tied with a bound stays, which keeps the definition
    // deterministic under ties). The trimmed aggregate is exact:
    // 2-dp currency → integer cents, DECIMAL(38,0) sum, one integral
    // div for the scaled mean — all-BIGINT output, hash-exact. Scale
    // shape: the rank selection is the parallel range-sort pipeline;
    // the trim itself is a broadcast of one 2-value row + a
    // codegen'd filter + a map-side-partial aggregate.
    "q_trimmed_mean" -> QueryDef(
      fn = (spark, dir) => {
        val li = Tables(spark, dir, "lineitem")
          .select(floor(col("l_extendedprice") * 100 + 0.5).as("cents"),
            col("l_orderkey"), col("l_linenumber"))
        def k(n: Column, q: Int): Column =
          ((n - 1) * q / 100).cast("long") + 1
        val bounds = graft.ops.ExactRank.selectRanks(li,
            Seq(col("cents"), col("l_orderkey"), col("l_linenumber")),
            n => Seq(k(n, 5), k(n, 95)))
          .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
        li.crossJoin(broadcast(bounds))
          .filter(col("cents") >= col("lo") && col("cents") <= col("hi"))
          .agg(
            max(col("lo")).as("lo_cents"),
            max(col("hi")).as("hi_cents"),
            count(lit(1)).as("kept"),
            sum(col("cents")).cast("decimal(38,0)").as("sc"))
          .select(col("lo_cents"), col("hi_cents"), col("kept"),
            col("sc").cast("long").as("sum_cents"),
            expr("sc * 100 div kept").cast("long").as("mean_cents_x100"))
      },
      oracle = Some("""
        |WITH li AS (
        |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |           AS cents,
        |         l_orderkey, l_linenumber
        |  FROM lineitem),
        |r AS (
        |  SELECT cents,
        |    ROW_NUMBER() OVER (ORDER BY cents, l_orderkey,
        |                       l_linenumber) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM li),
        |b AS (
        |  SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM r
        |  WHERE rn IN ((n-1)*5//100 + 1, (n-1)*95//100 + 1)),
        |t AS (
        |  SELECT li.cents, b.lo, b.hi FROM li CROSS JOIN b
        |  WHERE li.cents >= b.lo AND li.cents <= b.hi)
        |SELECT MAX(lo) AS lo_cents, MAX(hi) AS hi_cents,
        |  COUNT(*) AS kept,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  CAST(SUM(CAST(cents AS HUGEINT)) * 100 // COUNT(*) AS BIGINT)
        |    AS mean_cents_x100
        |FROM t""".stripMargin)),

    // ---- WEIGHTED median (lower): the smallest price whose
    // cumulative quantity reaches half the total quantity — the order
    // statistic importance-weighted corpora need (q_exact_median
    // treats every row equally; a token-weighted quality cut must not).
    // [[graft.ops.ExactRank.selectRanks]] selects by ROW rank, which
    // cannot express a weight; the cumulative-weight formulation rides
    // [[graft.ops.ExactRank.prefixSum]] instead: per-value weight
    // totals (one shuffle, map-side partial), the distributed prefix
    // sum over the value order, a broadcast single-row total, and the
    // threshold test cum_w·2 ≥ W kept in CROSS-MULTIPLIED integers —
    // no division anywhere, all-BIGINT, hash-exact. l_quantity is
    // integral by data contract, so weights are exact longs.
    "q_weighted_median" -> QueryDef(
      fn = (spark, dir) => {
        val li = Tables(spark, dir, "lineitem")
          .select(floor(col("l_extendedprice") * 100 + 0.5).as("cents"),
            col("l_quantity").cast("long").as("w"))
        val perVal = li.groupBy("cents").agg(sum("w").as("w"))
        val cum = graft.ops.ExactRank.prefixSum(perVal,
          Seq(col("cents")), Seq("cum_w" -> col("w")))
        val tot = li.agg(sum("w").as("tw"))
        cum.crossJoin(broadcast(tot))
          .filter(col("cum_w") * 2 >= col("tw"))
          .agg(
            min(col("cents")).as("median_cents"),
            min_by(col("cum_w"), col("cents")).as("cum_weight"),
            max(col("tw")).as("total_weight"))
      },
      oracle = Some("""
        |WITH li AS (
        |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |           AS cents,
        |         CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem),
        |pv AS (
        |  SELECT cents, CAST(SUM(w) AS BIGINT) AS w
        |  FROM li GROUP BY 1),
        |cum AS (
        |  SELECT cents,
        |    CAST(SUM(w) OVER (ORDER BY cents) AS BIGINT) AS cum_w
        |  FROM pv),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM li)
        |SELECT c.cents AS median_cents, c.cum_w AS cum_weight,
        |  t.tw AS total_weight
        |FROM cum c CROSS JOIN tot t
        |WHERE c.cum_w * 2 >= t.tw
        |ORDER BY c.cents LIMIT 1""".stripMargin)),

    // ---- Pairwise Pearson correlation MATRIX over the lineitem
    // measures in ONE scan: all 15 moments (4 sums, 4 squares, 6
    // cross-products) accumulate in a single aggregation — no
    // self-join, no per-pair pass (the q_type_correlation shape is a
    // join because its series live on different ROWS; here the
    // columns share a row, so the matrix is map-side-combinable).
    // Exactness: measures are 2-decimal currency → floor(x*100+0.5)
    // integers, moments as DECIMAL(38,0)/HUGEINT sums (exact,
    // order-free; headroom ~1e27 at sf1 vs the 1e38 cap), and the
    // final r casts the exact integers to double (round-to-nearest on
    // both engines — the q_weather_trend precedent) before one
    // sqrt/divide chain. Scale: one scan, one single-row shuffle.
    "q_corr_matrix" -> QueryDef(
      fn = (spark, dir) => {
        def d(c: Column): Column = c.cast("decimal(38,0)")
        val cols = Seq("qty", "price", "disc", "tax")
        val li = Tables(spark, dir, "lineitem").select(
          floor(col("l_quantity") * 100 + 0.5).as("qty"),
          floor(col("l_extendedprice") * 100 + 0.5).as("price"),
          floor(col("l_discount") * 100 + 0.5).as("disc"),
          floor(col("l_tax") * 100 + 0.5).as("tax"))
        val aggs = Seq(count(lit(1)).as("n")) ++
          cols.map(c => sum(d(col(c))).as(s"s_$c")) ++
          (for { i <- cols.indices; j <- i until cols.length }
            yield sum(d(col(cols(i))) * d(col(cols(j))))
              .as(s"s_${cols(i)}_${cols(j)}"))
        val m = li.agg(aggs.head, aggs.tail: _*)
        def r(a: String, b: String): Column = {
          val n = d(col("n"))
          val num = (n * col(s"s_${a}_$b") - col(s"s_$a") * col(s"s_$b"))
            .cast("double")
          val va = (n * col(s"s_${a}_$a") - col(s"s_$a") * col(s"s_$a"))
            .cast("double")
          val vb = (n * col(s"s_${b}_$b") - col(s"s_$b") * col(s"s_$b"))
            .cast("double")
          num / sqrt(va * vb)
        }
        val pairs = for { i <- cols.indices; j <- (i + 1) until cols.length }
          yield struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
            r(cols(i), cols(j)).as("r"))
        m.select(col("n"), explode(array(pairs: _*)).as("p"))
          .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
            col("n"), col("p.r").as("r"))
          .orderBy("col_a", "col_b")
      },
      oracle = Some("""
        |WITH t AS (
        |  SELECT CAST(floor(l_quantity * 100 + 0.5) AS HUGEINT) AS qty,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT) AS price,
        |         CAST(floor(l_discount * 100 + 0.5) AS HUGEINT) AS disc,
        |         CAST(floor(l_tax * 100 + 0.5) AS HUGEINT) AS tax
        |  FROM lineitem),
        |m AS (SELECT COUNT(*) AS n,
        |  SUM(qty) AS s_qty, SUM(price) AS s_price,
        |  SUM(disc) AS s_disc, SUM(tax) AS s_tax,
        |  SUM(qty*qty) AS s_qty_qty, SUM(qty*price) AS s_qty_price,
        |  SUM(qty*disc) AS s_qty_disc, SUM(qty*tax) AS s_qty_tax,
        |  SUM(price*price) AS s_price_price, SUM(price*disc) AS s_price_disc,
        |  SUM(price*tax) AS s_price_tax, SUM(disc*disc) AS s_disc_disc,
        |  SUM(disc*tax) AS s_disc_tax, SUM(tax*tax) AS s_tax_tax
        |  FROM t),
        |p AS (
        |  SELECT 'qty' AS col_a, 'price' AS col_b, n,
        |    CAST(n*s_qty_price - s_qty*s_price AS DOUBLE)
        |      / sqrt(CAST(n*s_qty_qty - s_qty*s_qty AS DOUBLE)
        |             * CAST(n*s_price_price - s_price*s_price AS DOUBLE)) AS r
        |  FROM m
        |  UNION ALL SELECT 'qty', 'disc', n,
        |    CAST(n*s_qty_disc - s_qty*s_disc AS DOUBLE)
        |      / sqrt(CAST(n*s_qty_qty - s_qty*s_qty AS DOUBLE)
        |             * CAST(n*s_disc_disc - s_disc*s_disc AS DOUBLE)) FROM m
        |  UNION ALL SELECT 'qty', 'tax', n,
        |    CAST(n*s_qty_tax - s_qty*s_tax AS DOUBLE)
        |      / sqrt(CAST(n*s_qty_qty - s_qty*s_qty AS DOUBLE)
        |             * CAST(n*s_tax_tax - s_tax*s_tax AS DOUBLE)) FROM m
        |  UNION ALL SELECT 'price', 'disc', n,
        |    CAST(n*s_price_disc - s_price*s_disc AS DOUBLE)
        |      / sqrt(CAST(n*s_price_price - s_price*s_price AS DOUBLE)
        |             * CAST(n*s_disc_disc - s_disc*s_disc AS DOUBLE)) FROM m
        |  UNION ALL SELECT 'price', 'tax', n,
        |    CAST(n*s_price_tax - s_price*s_tax AS DOUBLE)
        |      / sqrt(CAST(n*s_price_price - s_price*s_price AS DOUBLE)
        |             * CAST(n*s_tax_tax - s_tax*s_tax AS DOUBLE)) FROM m
        |  UNION ALL SELECT 'disc', 'tax', n,
        |    CAST(n*s_disc_tax - s_disc*s_tax AS DOUBLE)
        |      / sqrt(CAST(n*s_disc_disc - s_disc*s_disc AS DOUBLE)
        |             * CAST(n*s_tax_tax - s_tax*s_tax AS DOUBLE)) FROM m)
        |SELECT col_a, col_b, CAST(n AS BIGINT) AS n, r
        |FROM p ORDER BY col_a, col_b""".stripMargin)),

    // ---- ANALYZE-style EQUI-DEPTH HISTOGRAM driving range-predicate
    // cardinality estimation — the optimizer-stats member of the rank
    // family (ops/Histogram; Spark's ANALYZE ... FOR COLUMNS builds
    // the sampled twin). Boundaries are exact order statistics at
    // ranks (n·b) div 20 (ONE ExactRank.selectRanks pass — m
    // boundaries never cost m sorts), so the estimate carries a
    // PROVABLE bracket: est_lo = max boundary rank with value ≤ x
    // (every row at rank ≤ it sorts ≤ x), est_hi = min boundary rank
    // with value > x, minus 1 (a row ≤ x sorts strictly before that
    // boundary) — actual ∈ [est_lo, est_hi] always, and the bracket
    // width is ≤ one bucket depth ⌈n/20⌉ by construction
    // (HistogramSpec asserts both; the hash gate replays the whole
    // estimator). The actual counts exist only to measure the
    // estimator's error: ONE conditional-aggregation scan (the
    // TableStats shape) — at production scale the histogram is built
    // once beside the data (Histogram.write) and every consult
    // touches 20 rows, never the table. All-BIGINT arithmetic
    // (est_mid/err_bp via `div`), so both engines replay it exactly.
    "q_histogram_selectivity" -> QueryDef(
      fn = (spark, dir) => {
        import spark.implicits._
        val li = Tables(spark, dir, "lineitem")
          .select(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber"))
        val bounds = graft.ops.Histogram.equiDepth(li,
          Seq(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber")), 20)
          .select(col("l_extendedprice").as("v"), col("rank"),
            col("n_total"))
        val ths = Seq(500L, 2000L, 5000L, 10000L, 25000L, 50000L,
          75000L, 110000L)
        val est = graft.ops.Histogram.estimateLe(bounds, "v",
          ths.toDF("threshold"))
        val aggs = ths.map(x =>
          sum(when(col("l_extendedprice") <= x, 1L).otherwise(0L))
            .as(s"a_$x"))
        val acts = li.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(ths.map(x =>
            struct(lit(x).as("threshold"), col(s"a_$x").as("actual"))):
            _*)).as("s"))
          .select("s.*")
        est.join(acts, "threshold")
          .select(col("threshold"), col("est_lo"), col("est_hi"),
            col("est_mid"), col("actual"), col("n_rows"),
            expr("(abs(est_mid - actual) * 10000) div n_rows")
              .as("err_bp"))
          .orderBy("threshold")
      },
      oracle = Some("""
        |WITH r AS (
        |  SELECT l_extendedprice AS v,
        |    ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
        |                       l_linenumber) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM lineitem),
        |bs AS (SELECT unnest(range(1, 21)) AS b),
        |bd AS (SELECT DISTINCT v, rn, n FROM r
        |       JOIN bs ON r.rn = (r.n * bs.b) // 20),
        |th AS (SELECT unnest([500, 2000, 5000, 10000, 25000, 50000,
        |                      75000, 110000]) AS threshold),
        |est AS (
        |  SELECT t.threshold,
        |    coalesce((SELECT max(rn) FROM bd WHERE v <= t.threshold),
        |             0) AS est_lo,
        |    coalesce((SELECT min(rn) - 1 FROM bd WHERE v > t.threshold),
        |             (SELECT max(n) FROM bd)) AS est_hi,
        |    (SELECT max(n) FROM bd) AS n_rows
        |  FROM th t),
        |act AS (
        |  SELECT t.threshold,
        |    (SELECT COUNT(*) FROM lineitem
        |     WHERE l_extendedprice <= t.threshold) AS actual
        |  FROM th t)
        |SELECT CAST(e.threshold AS BIGINT) AS threshold,
        |  CAST(est_lo AS BIGINT) AS est_lo,
        |  CAST(est_hi AS BIGINT) AS est_hi,
        |  CAST((est_lo + est_hi) // 2 AS BIGINT) AS est_mid,
        |  CAST(actual AS BIGINT) AS actual,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST((abs((est_lo + est_hi) // 2 - actual) * 10000) // n_rows
        |       AS BIGINT) AS err_bp
        |FROM est e JOIN act a ON e.threshold = a.threshold
        |ORDER BY threshold""".stripMargin)),

    // ---- GINI CONCENTRATION of customer spend — the inequality
    // metric curation reads over source/domain contribution ("is 1%
    // of the corpus supplying 80% of the tokens?"), demonstrated on
    // the order book. A RANK-WEIGHTED statistic: with spend sorted
    // ascending (1-based rank i over a total order), Gini =
    // (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) — the rank product makes it
    // ops/ExactRank.rankAll's second transform use (q_ecdf_quality
    // normalizes; this one aggregates rank×value). Exactness: cents
    // as DECIMAL(38,0) (sums exact and order-free), rank products
    // ≤1e27 at sf1 vs the 1e38 cap, one integral `div` at the end —
    // gini_bp is the same BIGINT on both engines. Scale: one
    // custkey-keyed aggregation, one range sort over the bounded
    // customer frame, a single-row result.
    "q_gini_spend" -> QueryDef(
      fn = (spark, dir) => {
        val s = Tables(spark, dir, "orders")
          .groupBy("o_custkey")
          .agg((sum(col("o_totalprice")) * 100)
            .cast("decimal(38,0)").as("cents"))
        val r = graft.ops.ExactRank.rankAll(s,
          Seq(col("cents"), col("o_custkey")), rankCol = "i")
        r.agg(
            max(col("n_total")).as("n"),
            sum(col("cents")).cast("decimal(38,0)").as("sc"),
            sum(col("i").cast("decimal(38,0)") * col("cents"))
              .cast("decimal(38,0)").as("si"))
          .select(
            col("n").as("n_customers"),
            col("sc").cast("long").as("total_cents"),
            expr("(2 * si - (n + 1) * sc) * 10000 div (n * sc)")
              .as("gini_bp"))
      },
      oracle = Some("""
        |WITH s AS (
        |  SELECT o_custkey,
        |    CAST(SUM(o_totalprice) * 100 AS HUGEINT) AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents,
        |        ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
        |        COUNT(*) OVER () AS n
        |      FROM s)
        |SELECT CAST(max(n) AS BIGINT) AS n_customers,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents,
        |  CAST((2 * SUM(i * cents)
        |        - (CAST(max(n) AS HUGEINT) + 1) * SUM(cents)) * 10000
        |       // (CAST(max(n) AS HUGEINT) * SUM(cents)) AS BIGINT)
        |    AS gini_bp
        |FROM r""".stripMargin)),

    // ---- Lorenz curve (the distribution q_gini_spend summarizes in
    // one number): cumulative spend share at each customer-count
    // decile — "the bottom 50% of customers carry share_bp/100 % of
    // revenue", the corpus-contribution curve a data-mix planner reads
    // before rebalancing sources. ONE ExactRank.prefixSum pass
    // produces BOTH the rank (a running count of 1s) and the
    // cumulative cents under the same total order — rank selection
    // and prefix aggregation fused into the same two-job pipeline, no
    // second sort. Everything integer: cents are exact, share_bp is
    // one integral division per emitted row; the decile ranks
    // (n·k div 10) are membership-tested against the running count,
    // and the single-row totals broadcast.
    "q_lorenz_share" -> QueryDef(
      fn = (spark, dir) => {
        val s = Tables(spark, dir, "orders")
          .groupBy("o_custkey")
          .agg((sum(col("o_totalprice")) * 100)
            .cast("decimal(38,0)").cast("long").as("cents"))
        val cum = graft.ops.ExactRank.prefixSum(s,
          Seq(col("cents"), col("o_custkey")),
          Seq("i" -> lit(1L), "cum_cents" -> col("cents")))
        val tot = s.agg(count(lit(1)).as("n"),
          sum(col("cents")).as("total_cents"))
        cum.crossJoin(broadcast(tot))
          .filter(expr(
            "array_contains(transform(sequence(1, 10)," +
              " k -> n * k div 10), i)"))
          .select(col("i").as("rank"), col("n").as("n_customers"),
            col("cum_cents"), col("total_cents"),
            // widen to decimal(38,0) BEFORE the ×10000: total cents
            // crosses Long.Max/10000 around a 40-100× scale-up and
            // non-ANSI Spark would silently wrap (q_gini_spend's
            // exact-decimal pattern); result fits long again after
            // the division (share_bp ≤ 10000)
            expr("cast(cast(cum_cents as decimal(38,0)) * 10000" +
              " div total_cents as long)").as("share_bp"))
          .orderBy("rank")
      },
      oracle = Some("""
        |WITH s AS (
        |  SELECT o_custkey,
        |    CAST(CAST(SUM(o_totalprice) * 100 AS HUGEINT) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT cents,
        |    ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
        |    SUM(cents) OVER (ORDER BY cents, o_custkey
        |                     ROWS UNBOUNDED PRECEDING) AS cum_cents,
        |    COUNT(*) OVER () AS n,
        |    SUM(cents) OVER () AS total
        |  FROM s)
        |SELECT i AS rank, CAST(n AS BIGINT) AS n_customers,
        |  CAST(cum_cents AS BIGINT) AS cum_cents,
        |  CAST(total AS BIGINT) AS total_cents,
        |  CAST(CAST(cum_cents AS HUGEINT) * 10000 // total AS BIGINT)
        |    AS share_bp
        |FROM r
        |WHERE i IN (n*1//10, n*2//10, n*3//10, n*4//10, n*5//10,
        |            n*6//10, n*7//10, n*8//10, n*9//10, n*10//10)
        |ORDER BY rank""".stripMargin))
  )

  /** Build-once per-source quantile store for `q_group_quantiles_served`:
    * maintained through two mergeDelta batches (odd/even doc_id — the
    * union is the whole corpus) plus a replayed batch the idempotency
    * stamp turns into a no-op. k=64 matches q_group_quantiles. */
  private[graft] def groupQuantileStoreFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.ops.BuildOnce.dir("gq_store", spark,
        Tables.paths(dir, "documents")) { store =>
      val k = 64
      def rows(parity: Int) = Tables(spark, dir, "documents")
        .filter(col("doc_id") % 2 === parity)
        .select(col("source").as("g"),
          graft.ops.QuantileSketch.hash60(col("doc_id").cast("string"))
            .as("h"),
          col("n_chars").cast("long").as("v"))
      graft.streaming.GroupQuantileMaintenance.build(
        rows(0).filter(lit(false)), store, k) // empty bootstrap
      graft.streaming.GroupQuantileMaintenance
        .mergeDelta(spark, store, rows(0), "b0", k)
      graft.streaming.GroupQuantileMaintenance
        .mergeDelta(spark, store, rows(1), "b1", k)
      graft.streaming.GroupQuantileMaintenance
        .mergeDelta(spark, store, rows(1), "b1", k) // replay: no-op
    }
}
