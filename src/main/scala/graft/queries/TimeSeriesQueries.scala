package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryModule, Tables}

/** Sequential / time-series operators over the events table that a
  * feature-engineering stage of a training pipeline needs: per-entity
  * linear recurrences (exponential decay), discretized sequence-motif
  * mining, and distribution-drift monitoring between time periods.
  *
  * The common thread: each is a SEQUENTIAL computation re-expressed so
  * a declarative engine runs it in one or two scans — an ordered fold
  * instead of a per-row loop, rank-based symbols instead of learned
  * breakpoints, contingency counts instead of iterative tests — and so
  * the DuckDB oracle replays it bit-for-bit (integer counts, or IEEE
  * op chains in a fixed order).
  */
object TimeSeriesQueries extends QueryModule {

  /** Baseline/current split for the drift report: events span
    * 2024-01-01..01-30, so mid-month is the natural two-period split.
    * A LITERAL split (not a computed median) is deliberate — it
    * pushes down to the scan as a plain predicate and is what a
    * production drift monitor does ("this week vs last"). */
  val DriftSplit = "2024-01-16 00:00:00"

  override def defs: Seq[(String, QueryDef)] = Seq(

    // ---- Exponential moving average per user (α = 1/8): the linear
    // recurrence s_i = α·x_i + (1−α)·s_{i−1}, seeded s_1 = x_1 — the
    // canonical time-decay feature (recency-weighted engagement).
    // A recurrence cannot be a window aggregate, but it IS an ordered
    // left fold: ops/OrderedFold streams each user's values under the
    // total order (ts, event_id) through one repartition + in-partition
    // sort, so task memory is O(1) however hot a user is. Both engines
    // execute the identical IEEE multiply-add chain left-to-right
    // (DuckDB `list_reduce` seeds with the first element, as the fold
    // does), so the double hash-matches. α = 0.125 and 1−α = 0.875 are
    // exact binary doubles (dyadic rationals), so the literals
    // themselves are engine-identical too.
    "q_ema_decay" -> QueryDef(
      fn = (spark, dir) =>
        graft.ops.OrderedFold.emaByUser(Tables(spark, dir, "events"))
          .orderBy("user_id"),
      oracle = Some("""
        |WITH seq AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |         list(value ORDER BY ts, event_id) AS vals
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events,
        |  list_reduce(vals, (acc, x) ->
        |    acc * CAST(0.875 AS DOUBLE) + x * CAST(0.125 AS DOUBLE)) AS ema
        |FROM seq ORDER BY user_id""".stripMargin),
      bench = true),

    // ---- Sequence-motif mining: discretize each event's value into a
    // per-type quartile symbol (NTILE over the total order (value,
    // event_id) — rank-based symbolization, the SAX idea with exact
    // order statistics instead of gaussian breakpoints), then count
    // 3-symbol motifs along each user's per-type timeline and keep the
    // top 5 per type. Everything is integer/string arithmetic under
    // total orders, so the oracle hash-matches with zero float risk.
    // Scale shape: two window passes (symbolize, slide) + one
    // aggregation; the symbolization NTILE partitions by event_type —
    // at 100 TB with few types, swap for fences from rank-selected
    // order statistics broadcast onto the scan (the q_iqr_outliers
    // pattern) and the rest of the plan is unchanged.
    "q_motif_mining" -> QueryDef(
      fn = (spark, dir) => {
        val symW = Window.partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        val seqW = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts"), col("event_id"))
        val rankW = Window.partitionBy("event_type")
          .orderBy(col("cnt").desc, col("motif"))
        Tables(spark, dir, "events")
          .select("event_id", "user_id", "event_type", "ts", "value")
          .withColumn("sym", ntile(4).over(symW))
          .withColumn("s2", lead("sym", 1).over(seqW))
          .withColumn("s3", lead("sym", 2).over(seqW))
          .filter(col("s3").isNotNull)
          .withColumn("motif",
            concat_ws("-", col("sym"), col("s2"), col("s3")))
          .groupBy("event_type", "motif")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(rankW).cast("long"))
          .filter(col("rk") <= 5)
          .select("event_type", "rk", "motif", "cnt")
          .orderBy("event_type", "rk")
      },
      oracle = Some("""
        |WITH sym AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    NTILE(4) OVER (PARTITION BY event_type
        |                   ORDER BY value, event_id) AS sym
        |  FROM events),
        |tri AS (
        |  SELECT event_type,
        |    sym,
        |    LEAD(sym, 1) OVER w AS s2,
        |    LEAD(sym, 2) OVER w AS s3
        |  FROM sym
        |  WINDOW w AS (PARTITION BY user_id, event_type
        |               ORDER BY ts, event_id)),
        |cnts AS (
        |  SELECT event_type, CONCAT_WS('-', sym, s2, s3) AS motif,
        |         COUNT(*) AS cnt
        |  FROM tri WHERE s3 IS NOT NULL
        |  GROUP BY event_type, motif)
        |SELECT event_type, rk, motif, cnt FROM (
        |  SELECT event_type, motif, cnt,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY cnt DESC, motif) AS BIGINT) AS rk
        |  FROM cnts)
        |WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin)),

    // ---- Distribution-drift report: a chi-square contingency table
    // of event_type × period (baseline = before DriftSplit, current =
    // after). obs is the cell count; exp = row_total·col_total/N (the
    // independence expectation); contrib = (obs−exp)²/exp — the cell's
    // chi-square contribution, the standard "which segment drifted"
    // monitor on a training-data feed. Emitted PER CELL (never summed)
    // so every double is a fixed 4-op IEEE chain over exact BIGINT
    // counts — deterministic across engines; the analyst's total is
    // the trivial sum of a #types×2-row report. Scale shape: one
    // groupBy shuffle over the scan produces the tiny cell frame; the
    // three totals are window sums OVER THAT FRAME (#types×2 rows), so
    // the events table is scanned exactly once.
    // ---- CUSUM changepoint detection over the daily order series —
    // the sequential-monitoring anomaly operator (drift report says
    // "the mix changed"; CUSUM says "the LEVEL shifted, and here").
    // The recurrence S_i = max(0, S_{i-1} + dev_i) looks unwindowable,
    // but has the classic closed form S_i = P_i − min(0, min_{j≤i} P_j)
    // over prefix sums P — two cumulative window functions, no
    // recursion, no collect. Exactness: everything is SCALED INTEGER
    // (counts ×100, target = (100·total) div days, slack = target/20,
    // threshold = 5×target), so the cumulative sums are exact BIGINTs
    // and the result is engine-independent even though engines
    // disagree on float summation trees (the reason a double CUSUM
    // could never hash-match). A level shift is PLANTED after
    // 2000-01-01 (counts boosted by mean+1 — relative, so detection
    // holds at every sf); the spec pins the window formulation
    // bit-equal to the imperative recurrence and the first flagged
    // day at/after the plant. Scale: one scan + day rollup; the two
    // sequential windows ride on the bounded date dimension (same
    // two-level shape as q_sweepline_concurrency).
    "q_cusum_changepoint" -> QueryDef(
      fn = (spark, dir) => {
        val daily = Tables(spark, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("d"))
          .agg(count(lit(1)).as("c0"))
        val stats = daily.agg(sum("c0").as("t"), count(lit(1)).as("nd"))
        val w = Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.crossJoin(broadcast(stats))
          .withColumn("c",
            when(col("d") >= lit(java.sql.Date.valueOf("2000-01-01")),
              col("c0") + expr("t div nd") + 1).otherwise(col("c0")))
          .withColumn("mu100", expr("(100 * t) div nd"))
          .withColumn("dev",
            lit(100) * col("c") - col("mu100") - expr("mu100 div 20"))
          .withColumn("p", sum("dev").over(w))
          .withColumn("s100", col("p") - least(lit(0L), min("p").over(w)))
          .withColumn("flagged", (col("s100") > lit(5) * col("mu100"))
            .cast("long"))
          .select(col("d"), col("c").cast("long").as("c"),
            col("s100").cast("long").as("s100"), col("flagged"))
          .orderBy("d")
      },
      oracle = Some("""
        |WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS c0
        |  FROM orders GROUP BY 1),
        |stats AS (SELECT SUM(c0) AS t, COUNT(*) AS nd FROM daily),
        |base AS (
        |  SELECT d,
        |    CASE WHEN d >= DATE '2000-01-01' THEN c0 + (t // nd) + 1
        |         ELSE c0 END AS c,
        |    (100 * t) // nd AS mu100
        |  FROM daily CROSS JOIN stats),
        |dev AS (
        |  SELECT d, c, mu100,
        |    100 * c - mu100 - (mu100 // 20) AS dv
        |  FROM base),
        |pre AS (
        |  SELECT d, c, mu100,
        |    SUM(dv) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM dev),
        |s AS (
        |  SELECT d, c, mu100,
        |    p - least(0, MIN(p) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s100
        |  FROM pre)
        |SELECT d, CAST(c AS BIGINT) AS c, CAST(s100 AS BIGINT) AS s100,
        |  CAST(s100 > 5 * mu100 AS BIGINT) AS flagged
        |FROM s ORDER BY d""".stripMargin)),

    "q_drift_chi2" -> QueryDef(
      fn = (spark, dir) => {
        // the ONE events pass: everything below works on the ~types×2
        // cell frame, localCheckpoint'd because the grid completion
        // references it twice (distinct types + the counts) — without
        // the cut, both references would re-derive the full scan
        val cells = Tables(spark, dir, "events")
          .select(col("event_type"),
            when(col("ts") < lit(DriftSplit).cast("timestamp"), 0L)
              .otherwise(1L).as("period"))
          .groupBy("event_type", "period")
          .agg(count(lit(1)).as("obs"))
          .localCheckpoint()
        // complete the grid (every type × both periods, obs=0 fill): a
        // segment present in only ONE period is the strongest drift
        // signal — omitting its empty cell would silently drop its
        // largest contribution. The 2-row period dim broadcasts.
        val grid = cells.select("event_type").distinct()
          .crossJoin(spark.range(2).select(col("id").as("period")))
        val full = grid.join(cells, Seq("event_type", "period"), "left")
          .withColumn("obs", coalesce(col("obs"), lit(0L)))
        // window totals over the grid frame (~types×2 rows; the
        // empty-frame global window is deliberate and bounded).
        // Expectation multiplies the totals AS DOUBLES: counts are
        // exact under 2^53 so the single rounding matches the
        // oracle's exact-integer-product-then-cast, while a BIGINT
        // product would wrap past ~3e9 rows (ANSI off = silent).
        val typeTot = sum("obs").over(Window.partitionBy("event_type"))
        val periodTot = sum("obs").over(Window.partitionBy("period"))
        val grandTot = sum("obs").over(Window.partitionBy())
        val obsD = col("obs").cast("double")
        full
          .withColumn("exp",
            typeTot.cast("double") * periodTot.cast("double") /
              grandTot.cast("double"))
          .withColumn("contrib",
            when(col("exp") > 0,
              (obsD - col("exp")) * (obsD - col("exp")) / col("exp"))
              .otherwise(lit(0.0)))
          .select("event_type", "period", "obs", "exp", "contrib")
          .orderBy("event_type", "period")
      },
      oracle = Some(s"""
        |WITH cells AS (
        |  SELECT event_type,
        |    CASE WHEN ts < TIMESTAMP '$DriftSplit' THEN CAST(0 AS BIGINT)
        |         ELSE CAST(1 AS BIGINT) END AS period,
        |    COUNT(*) AS obs
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT t.event_type, p.period
        |  FROM (SELECT DISTINCT event_type FROM cells) t
        |  CROSS JOIN (SELECT CAST(0 AS BIGINT) AS period
        |              UNION ALL SELECT CAST(1 AS BIGINT)) p),
        |filled AS (
        |  SELECT g.event_type, g.period, COALESCE(c.obs, 0) AS obs
        |  FROM grid g LEFT JOIN cells c
        |    ON g.event_type = c.event_type AND g.period = c.period),
        |tot AS (
        |  SELECT event_type, period, obs,
        |    SUM(obs) OVER (PARTITION BY event_type) AS type_tot,
        |    SUM(obs) OVER (PARTITION BY period) AS period_tot,
        |    SUM(obs) OVER () AS grand_tot
        |  FROM filled),
        |e AS (
        |  SELECT event_type, period, obs,
        |    CAST(type_tot * period_tot AS DOUBLE)
        |      / CAST(grand_tot AS DOUBLE) AS exp
        |  FROM tot)
        |SELECT event_type, period, obs, exp,
        |  CASE WHEN exp > 0
        |    THEN (CAST(obs AS DOUBLE) - exp) * (CAST(obs AS DOUBLE) - exp)
        |         / exp
        |    ELSE CAST(0 AS DOUBLE) END AS contrib
        |FROM e ORDER BY event_type, period""".stripMargin)),

    // ---- Two-sample Kolmogorov–Smirnov drift: the distribution-level
    // companion to q_drift_chi2's category-level test — D = max |F_a −
    // F_b| between the click and view value distributions, computed
    // EXACTLY as the integer max |cum_a·n_b − cum_b·n_a| over merged
    // distinct values (the cross-multiplied form never divides until
    // the final statistic, so the argmax and the numerator are
    // hash-checkable BIGINTs, not float comparisons). Scale shape: one
    // shuffle to per-value counts, then [[graft.ops.ExactRank.prefixSum]]
    // — the distributed prefix sum (range exchange + per-partition
    // offsets) — so no single task ever sees the whole value axis; the
    // single-row totals broadcast. Ties at a value are handled by
    // grouping BEFORE the cumulative, so both ECDFs step together at
    // shared values, the textbook tie treatment.
    "q_ks_drift" -> QueryDef(
      fn = (spark, dir) => {
        val ab = Tables(spark, dir, "events")
          .filter(col("event_type").isin("click", "view") &&
            // explicit NULL contract: Spark's range sort puts NULLs
            // first, DuckDB's SUM OVER (ORDER BY value) last — a NULL
            // value would shift the two engines' ECDFs differently,
            // so exclude it on BOTH sides rather than rely on the
            // seed data having none
            col("value").isNotNull)
          .select(col("value"),
            when(col("event_type") === "click", 1L).otherwise(0L).as("ia"),
            when(col("event_type") === "view", 1L).otherwise(0L).as("ib"))
        val perVal = ab.groupBy("value")
          .agg(sum("ia").as("ca"), sum("ib").as("cb"))
        val cum = graft.ops.ExactRank.prefixSum(perVal, Seq(col("value")),
          Seq("cum_a" -> col("ca"), "cum_b" -> col("cb")))
        val tot = ab.agg(sum("ia").as("n1"), sum("ib").as("n2"))
        cum.crossJoin(broadcast(tot))
          .withColumn("d_num",
            abs(col("cum_a") * col("n2") - col("cum_b") * col("n1")))
          .agg(
            max(col("n1")).as("n1"),
            max(col("n2")).as("n2"),
            max(col("d_num")).as("d_num"),
            // argmax with min-value tie-break: minimize (−d, value)
            min_by(col("value"),
              struct((-col("d_num")).as("nd"), col("value").as("v")))
              .as("ks_at"))
          .withColumn("ks",
            col("d_num").cast("double") /
              (col("n1") * col("n2")).cast("double"))
          .select("n1", "n2", "d_num", "ks_at", "ks")
      },
      oracle = Some("""
        |WITH ab AS (
        |  SELECT value,
        |    CASE WHEN event_type = 'click' THEN CAST(1 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS ia,
        |    CASE WHEN event_type = 'view' THEN CAST(1 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS ib
        |  FROM events
        |  WHERE event_type IN ('click', 'view')
        |    AND value IS NOT NULL),
        |pv AS (
        |  SELECT value, CAST(SUM(ia) AS BIGINT) AS ca,
        |    CAST(SUM(ib) AS BIGINT) AS cb
        |  FROM ab GROUP BY value),
        |cum AS (
        |  SELECT value,
        |    CAST(SUM(ca) OVER (ORDER BY value) AS BIGINT) AS cum_a,
        |    CAST(SUM(cb) OVER (ORDER BY value) AS BIGINT) AS cum_b
        |  FROM pv),
        |tot AS (
        |  SELECT CAST(SUM(ia) AS BIGINT) AS n1,
        |    CAST(SUM(ib) AS BIGINT) AS n2
        |  FROM ab),
        |d AS (
        |  SELECT c.value, t.n1, t.n2,
        |    ABS(c.cum_a * t.n2 - c.cum_b * t.n1) AS d_num
        |  FROM cum c CROSS JOIN tot t)
        |SELECT n1, n2, d_num, value AS ks_at,
        |  CAST(d_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS ks
        |FROM d ORDER BY d_num DESC, value ASC LIMIT 1""".stripMargin)),

    // ---- BUCKETED KS drift from histogram sketches — the exact code
    // path streaming/DriftMonitor serves per micro-batch (two
    // equi-width count sketches → dense spine → cross-multiplied
    // integer KS over the B-row frame), run here batch-built and
    // hash-gated: where q_ks_drift pays a per-distinct-value shuffle
    // for the RAW statistic, the monitor reads 2·B sketch rows
    // regardless of history — the production trade a drift dashboard
    // makes. Values ride the floor(x·100+0.5) cents convention; the
    // grid (5-unit buckets, clamped edges) never drops mass, so n1/n2
    // match the raw query's exactly. DriftMonitorSpec pins streamed
    // == batch-built == raw-KS-at-resolving-grid.
    "q_drift_monitor" -> QueryDef(
      fn = (spark, dir) => {
        import graft.streaming.{DriftMonitor, HistogramMaintenance}
        val ev = Tables(spark, dir, "events")
          .filter(col("event_type").isin("click", "view") &&
            col("value").isNotNull)
          .select(col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        def side(t: String) = HistogramMaintenance.sparseCounts(
          ev.filter(col("event_type") === t), col("cents"),
          lo = 0L, width = 500L, buckets = 80)
        DriftMonitor.ksFromCounts(spark, side("click"), side("view"), 80)
      },
      oracle = Some("""
        |WITH ev AS (
        |  SELECT event_type,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |bk AS (
        |  SELECT event_type,
        |    LEAST(GREATEST(cents, 0) // 500, 79) AS bucket
        |  FROM ev),
        |sp AS (SELECT unnest(range(0, 80)) AS bucket),
        |c AS (
        |  SELECT bucket,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
        |  FROM bk GROUP BY bucket),
        |d AS (
        |  SELECT sp.bucket,
        |    CAST(COALESCE(ca, 0) AS BIGINT) AS ca,
        |    CAST(COALESCE(cb, 0) AS BIGINT) AS cb
        |  FROM sp LEFT JOIN c ON sp.bucket = c.bucket),
        |cum AS (
        |  SELECT bucket,
        |    SUM(ca) OVER (ORDER BY bucket) AS cum_a,
        |    SUM(cb) OVER (ORDER BY bucket) AS cum_b,
        |    SUM(ca) OVER () AS n1, SUM(cb) OVER () AS n2
        |  FROM d),
        |k AS (
        |  SELECT bucket, n1, n2,
        |    ABS(cum_a * n2 - cum_b * n1) AS d_num
        |  FROM cum)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(d_num AS BIGINT) AS d_num, bucket AS ks_at_bucket,
        |  CAST(d_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS ks
        |FROM k ORDER BY d_num DESC, bucket ASC LIMIT 1""".stripMargin)),

    // ---- HOLT LINEAR-TREND FORECAST (double exponential smoothing)
    // over each nation's daily order counts — the forecasting member
    // of the family: where q_ema_decay tracks a LEVEL, Holt tracks
    // (level, trend) jointly:
    //   l_t = α·y_t + (1−α)(l_{t−1} + b_{t−1})
    //   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    // seeded (l_1, b_1) = (y_1, 0), h-step forecast l_T + h·b_T. A
    // two-variable recurrence is still an ordered left fold — state
    // is an array<double> pair. DuckDB's list_reduce has no initial-
    // accumulator argument, so the seed rides IN the list: each y maps
    // to the pair [y, 0] and the fold's first accumulator is exactly
    // the Holt init (Spark folds slice(..2..) from array(vals[0], 0)
    // — same chain). α=0.5, β=0.25: dyadic rationals, so every
    // literal and every multiply is engine-bit-identical, and both
    // engines run the identical IEEE op sequence (l_t's expression is
    // repeated verbatim inside b_t — recomputing the same ops yields
    // the same bits, which is what makes the double hash-match).
    // Scale shape: the 1:1 customer→nation dims broadcast onto the
    // orders scan; one shuffle to (nation, day) partial-agg'd cells;
    // the fold rides the BOUNDED per-nation day series (~2.4k rows —
    // the q_sweepline_concurrency two-level trick), so state per task
    // is a 2-double pair regardless of corpus size.
    "q_holt_linear" -> QueryDef(
      fn = (spark, dir) => {
        val cust = Tables(spark, dir, "customer")
          .select("c_custkey", "c_nationkey")
        val nation = Tables(spark, dir, "nation")
          .select("n_nationkey", "n_name")
        val daily = Tables(spark, dir, "orders")
          .select("o_custkey", "o_orderdate")
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), col("o_orderdate"))
          .agg(count(lit(1)).cast("double").as("y"))
        daily.groupBy("n_name")
          .agg(
            count(lit(1)).as("n_days"),
            sort_array(collect_list(
              struct(col("o_orderdate"), col("y")))).as("seq"))
          .withColumn("vals", expr("transform(seq, s -> s.y)"))
          .withColumn("st", expr(
            "aggregate(slice(vals, 2, size(vals) - 1)," +
              " array(vals[0], 0.0D)," +
              " (acc, x) -> array(" +
              "x * 0.5D + (acc[0] + acc[1]) * 0.5D, " +
              "(x * 0.5D + (acc[0] + acc[1]) * 0.5D - acc[0]) * 0.25D" +
              " + acc[1] * 0.75D))"))
          .select(col("n_name"), col("n_days"),
            col("st")(0).as("level"), col("st")(1).as("trend"),
            (col("st")(0) + col("st")(1)).as("fcst_1"),
            (col("st")(0) + col("st")(1) * 7.0).as("fcst_7"))
          .orderBy("n_name")
      },
      oracle = Some("""
        |WITH daily AS (
        |  SELECT n.n_name, o.o_orderdate AS d,
        |         CAST(COUNT(*) AS DOUBLE) AS y
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1, 2),
        |series AS (
        |  SELECT n_name, COUNT(*) AS n_days, list(y ORDER BY d) AS vals
        |  FROM daily GROUP BY 1),
        |fold AS (
        |  SELECT n_name, n_days,
        |    list_reduce(
        |      list_transform(vals, v -> list_value(v, CAST(0.0 AS DOUBLE))),
        |      (acc, x) -> list_value(
        |        x[1] * 0.5 + (acc[1] + acc[2]) * 0.5,
        |        (x[1] * 0.5 + (acc[1] + acc[2]) * 0.5 - acc[1]) * 0.25
        |          + acc[2] * 0.75)) AS st
        |  FROM series)
        |SELECT n_name, n_days, st[1] AS level, st[2] AS trend,
        |  st[1] + st[2] AS fcst_1, st[1] + st[2] * 7.0 AS fcst_7
        |FROM fold ORDER BY n_name""".stripMargin)),

    // ---- WALK-FORWARD BACKTEST of the Holt forecaster — the
    // eval-family member for forecasting (ANN has recall/MRR, LSH has
    // q_lsh_eval, the classifier has calibration; a forecaster ships
    // with its one-step-ahead error): at every step t the PRIOR
    // state's forecast l+b is scored against the arriving y_t before
    // the state updates, so the error is honestly out-of-sample at
    // each step. Implementation extends q_holt_linear's ordered fold
    // with a third accumulator element — acc = [l, b, Σ|err|] — the
    // error term reads the OLD (l, b) and the l_t expression is
    // repeated verbatim inside b_t (the holt discipline), so Spark's
    // `aggregate` and DuckDB's list_reduce run the identical IEEE
    // chain and the doubles hash-match. MAE = Σ|err|/(n−1) is one
    // deterministic division. Same scale shape as the forecaster:
    // fold rides the bounded per-nation day series.
    "q_backtest_mae" -> QueryDef(
      fn = (spark, dir) => {
        val cust = Tables(spark, dir, "customer")
          .select("c_custkey", "c_nationkey")
        val nation = Tables(spark, dir, "nation")
          .select("n_nationkey", "n_name")
        val daily = Tables(spark, dir, "orders")
          .select("o_custkey", "o_orderdate")
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), col("o_orderdate"))
          .agg(count(lit(1)).cast("double").as("y"))
        daily.groupBy("n_name")
          .agg(
            count(lit(1)).as("n_days"),
            sort_array(collect_list(
              struct(col("o_orderdate"), col("y")))).as("seq"))
          .filter(col("n_days") >= 2)
          .withColumn("vals", expr("transform(seq, s -> s.y)"))
          .withColumn("st", expr(
            "aggregate(slice(vals, 2, size(vals) - 1)," +
              " array(vals[0], 0.0D, 0.0D)," +
              " (acc, x) -> array(" +
              "x * 0.5D + (acc[0] + acc[1]) * 0.5D, " +
              "(x * 0.5D + (acc[0] + acc[1]) * 0.5D - acc[0]) * 0.25D" +
              " + acc[1] * 0.75D, " +
              "acc[2] + abs(x - (acc[0] + acc[1]))))"))
          .select(col("n_name"), col("n_days"),
            col("st")(2).as("abs_err_sum"),
            (col("st")(2) / (col("n_days") - 1)).as("mae"))
          .orderBy("n_name")
      },
      oracle = Some("""
        |WITH daily AS (
        |  SELECT n.n_name, o.o_orderdate AS d,
        |         CAST(COUNT(*) AS DOUBLE) AS y
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1, 2),
        |series AS (
        |  SELECT n_name, COUNT(*) AS n_days, list(y ORDER BY d) AS vals
        |  FROM daily GROUP BY 1),
        |fold AS (
        |  SELECT n_name, n_days,
        |    list_reduce(
        |      list_transform(vals, v -> list_value(v,
        |        CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE))),
        |      (acc, x) -> list_value(
        |        x[1] * 0.5 + (acc[1] + acc[2]) * 0.5,
        |        (x[1] * 0.5 + (acc[1] + acc[2]) * 0.5 - acc[1]) * 0.25
        |          + acc[2] * 0.75,
        |        acc[3] + abs(x[1] - (acc[1] + acc[2])))) AS st
        |  FROM series WHERE n_days >= 2)
        |SELECT n_name, n_days, st[3] AS abs_err_sum,
        |  st[3] / (n_days - 1) AS mae
        |FROM fold ORDER BY n_name""".stripMargin)),

    // ---- WEEKDAY SEASONALITY INDEX — names the weekly cycle the ACF
    // detects (q_autocorr says "lag-7 structure exists"; this says
    // WHICH days carry it): per weekday, mean daily order count as a
    // ratio to the all-days mean, ×100. Pure integer arithmetic —
    // idx_x100 = (sum_wd·n_days·100) div (n_days_wd·sum_total) — so
    // the index is engine-exact; the weekday mapping pins Spark's
    // dayofweek (1=Sun) to DuckDB's dayofweek()+1 (the
    // q_date_functions contract). Scale shape: one partial-agg'd
    // shuffle to the bounded daily frame, then a 7-group rollup and
    // a broadcast single-row total.
    "q_weekday_seasonality" -> QueryDef(
      fn = (spark, dir) => {
        val daily = Tables(spark, dir, "orders")
          .groupBy(col("o_orderdate").as("d"))
          .agg(count(lit(1)).as("cnt"))
        val byDow = daily
          .groupBy(dayofweek(col("d")).cast("long").as("dow"))
          .agg(count(lit(1)).as("n_days_wd"), sum(col("cnt")).as("sum_wd"))
        val tot = daily.agg(count(lit(1)).as("n_days"),
          sum(col("cnt")).as("sum_total"))
        byDow.crossJoin(broadcast(tot))
          .select(col("dow"), col("n_days_wd"), col("sum_wd"),
            expr("(sum_wd * n_days * 100) div (n_days_wd * sum_total)")
              .as("idx_x100"))
          .orderBy("dow")
      },
      oracle = Some("""
        |WITH daily AS (
        |  SELECT o_orderdate AS d, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1),
        |bydow AS (
        |  SELECT CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
        |    COUNT(*) AS n_days_wd, CAST(SUM(cnt) AS BIGINT) AS sum_wd
        |  FROM daily GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n_days,
        |          CAST(SUM(cnt) AS BIGINT) AS sum_total
        |        FROM daily)
        |SELECT dow, n_days_wd, sum_wd,
        |  (sum_wd * n_days * 100) // (n_days_wd * sum_total) AS idx_x100
        |FROM bydow, tot ORDER BY dow""".stripMargin)),

    // ---- AUTOCORRELATION FUNCTION (ACF, lags 1..7) of the daily
    // order-count series — the standard seasonality/persistence
    // diagnostic that decides a forecast model (and pairs with
    // q_holt_linear the way q_drift_chi2 pairs with q_cusum_
    // changepoint: diagnose, then track). Pearson r at lag k over
    // pairs (y_t, y_{t−k}), with the q_corr_matrix exactness recipe:
    // integer daily counts, DECIMAL(38,0)/HUGEINT moments (exact and
    // order-free, so the shuffle can't perturb them), ONE cast to
    // double per moment and an IEEE sqrt/divide chain both engines
    // round identically. Note each lag has its own mean pair (sx, sy
    // differ per k) — the textbook "sample ACF" divides by the global
    // variance instead; the per-lag Pearson is chosen because it's
    // the exactly-replayable formulation. Scale shape: the series
    // rides the BOUNDED date dimension (the q_cusum_changepoint
    // two-level trick) — one partial-agg'd shuffle from the orders
    // scan to ~2.4k daily cells, then the 7 lag columns in one
    // window pass and a 7-group moment aggregation; the unpartitioned
    // window is deliberate and bounded.
    "q_autocorr" -> QueryDef(
      fn = (spark, dir) => {
        val w = Window.orderBy("d")
        def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          c.cast("decimal(38,0)")
        val daily = Tables(spark, dir, "orders")
          .groupBy(col("o_orderdate").as("d"))
          .agg(count(lit(1)).as("y"))
        val lagged = (1 to 7).foldLeft(daily)((df, k) =>
          df.withColumn(s"y_$k", lag(col("y"), k).over(w)))
        val pairs = lagged
          .select(explode(array((1 to 7).map(k =>
            struct(lit(k).as("lag_k"), col("y").as("x"),
              col(s"y_$k").as("xl"))): _*)).as("p"))
          .select(col("p.lag_k").as("lag_k"), col("p.x").as("x"),
            col("p.xl").as("xl"))
          .filter(col("xl").isNotNull)
        val m = pairs.groupBy("lag_k").agg(
          count(lit(1)).as("n"),
          sum(dec(col("x"))).as("sx"), sum(dec(col("xl"))).as("sy"),
          sum(dec(col("x")) * dec(col("xl"))).as("sxy"),
          sum(dec(col("x")) * dec(col("x"))).as("sxx"),
          sum(dec(col("xl")) * dec(col("xl"))).as("syy"))
        val n = dec(col("n"))
        m.select(col("lag_k"), col("n"),
          ((n * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((n * col("sxx") - col("sx") * col("sx")).cast("double") *
              (n * col("syy") - col("sy") * col("sy")).cast("double")))
            .as("r"))
          .orderBy("lag_k")
      },
      oracle = Some("""
        |WITH daily AS (
        |  SELECT o_orderdate AS d, COUNT(*) AS y FROM orders GROUP BY 1),
        |lagged AS (
        |  SELECT d, y,
        |    LAG(y, 1) OVER (ORDER BY d) AS y_1,
        |    LAG(y, 2) OVER (ORDER BY d) AS y_2,
        |    LAG(y, 3) OVER (ORDER BY d) AS y_3,
        |    LAG(y, 4) OVER (ORDER BY d) AS y_4,
        |    LAG(y, 5) OVER (ORDER BY d) AS y_5,
        |    LAG(y, 6) OVER (ORDER BY d) AS y_6,
        |    LAG(y, 7) OVER (ORDER BY d) AS y_7
        |  FROM daily),
        |pairs AS (
        |  SELECT k.lag_k, l.y AS x,
        |    CASE k.lag_k WHEN 1 THEN y_1 WHEN 2 THEN y_2 WHEN 3 THEN y_3
        |         WHEN 4 THEN y_4 WHEN 5 THEN y_5 WHEN 6 THEN y_6
        |         ELSE y_7 END AS xl
        |  FROM lagged l
        |  CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag_k) k),
        |flt AS (SELECT * FROM pairs WHERE xl IS NOT NULL),
        |m AS (
        |  SELECT lag_k, COUNT(*) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(xl AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * CAST(xl AS HUGEINT)) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
        |    SUM(CAST(xl AS HUGEINT) * CAST(xl AS HUGEINT)) AS syy
        |  FROM flt GROUP BY 1)
        |SELECT lag_k, CAST(n AS BIGINT) AS n,
        |  CAST(n*sxy - sx*sy AS DOUBLE)
        |    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
        |           * CAST(n*syy - sy*sy AS DOUBLE)) AS r
        |FROM m ORDER BY lag_k""".stripMargin)),

    // ---- THEIL–SEN robust trend: slope = lower median of all
    // pairwise slopes (y_j−y_i)/(x_j−x_i), intercept = lower median
    // of residuals y_i − m·x_i — the trend estimator with a 29%
    // breakdown point (OLS breaks at one bad day; the planted shifts
    // q_cusum_changepoint hunts would wreck a least-squares line).
    // The robust-stats recipe (q_mad_outliers): TWO DEPENDENT rank
    // selections (the residual order statistic needs the slope), each
    // an ELEMENT of the data under a total order — (slope, x1, x2)
    // then (resid, x) — never an interpolation; each slope/residual
    // is a single IEEE divide/multiply-subtract on exact integers, so
    // both engines produce identical bits. Scale shape: the O(n²)
    // pair frame rides the BOUNDED date dimension (~2.4k days ⇒ ~3M
    // pairs AT EVERY CORPUS SCALE — the corpus only feeds the daily
    // rollup), so the broadcast inequality self-join is scale-free;
    // only the first daily aggregation touches the fact table. The
    // slope median runs through ops/ExactRank (range-partitioned
    // parallel rank selection — no single-partition window over the
    // 3M-row pair frame); the residual median stays a plain window
    // over the ~2.4k-row daily frame.
    "q_theil_sen" -> QueryDef(
      fn = (spark, dir) => {
        val daily = Tables(spark, dir, "orders")
          .groupBy(col("o_orderdate").as("d"))
          .agg(count(lit(1)).as("y"))
          .withColumn("x", datediff(col("d").cast("date"),
            lit("1995-01-01").cast("date")))
        val a = daily.select(col("x").as("x1"), col("y").as("y1"))
        val b = daily.select(col("x").as("x2"), col("y").as("y2"))
        val pairs = a.join(broadcast(b), col("x1") < col("x2"))
          .select(col("x1"), col("x2"),
            ((col("y2") - col("y1")).cast("double") /
              (col("x2") - col("x1")).cast("double")).as("slope"))
        // distributed exact rank (ops/ExactRank): the ~3M-row pair
        // frame is bounded but big enough that a single-partition
        // window serializes it through one task — the range-partition
        // + local-rank + offset-join shape keeps the selection
        // parallel and bit-identical (7 s → ~1.5 s at sf0.1)
        val medSlope = graft.ops.ExactRank
          .selectRank(pairs, Seq(col("slope"), col("x1"), col("x2")),
            graft.ops.ExactRank.lowerMedian, nCol = "np")
          .select(col("slope").as("m"), col("np").as("n_pairs"))
        daily.crossJoin(broadcast(medSlope))
          .withColumn("resid",
            col("y").cast("double") - col("m") * col("x").cast("double"))
          .withColumn("rn", row_number().over(
            Window.orderBy(col("resid"), col("x"))))
          .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
          .filter(col("rn") === expr("(nd-1) div 2 + 1"))
          .select(col("n_pairs"), col("nd").as("n_days"),
            col("m").as("slope"), col("resid").as("intercept"))
      },
      oracle = Some("""
        |WITH daily AS (
        |  SELECT o_orderdate AS d, COUNT(*) AS y FROM orders GROUP BY 1),
        |dx AS (
        |  SELECT date_diff('day', DATE '1995-01-01', CAST(d AS DATE)) AS x, y
        |  FROM daily),
        |pairs AS (
        |  SELECT a.x AS x1, b.x AS x2,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
        |  FROM dx a JOIN dx b ON a.x < b.x),
        |r1 AS (SELECT *, ROW_NUMBER() OVER (ORDER BY slope, x1, x2) AS rn,
        |         COUNT(*) OVER () AS np FROM pairs),
        |m AS (SELECT slope AS m, np AS n_pairs FROM r1
        |      WHERE rn = (np-1)//2 + 1),
        |resid AS (
        |  SELECT d.x, m.m, m.n_pairs,
        |    CAST(d.y AS DOUBLE) - m.m * CAST(d.x AS DOUBLE) AS resid
        |  FROM dx d CROSS JOIN m),
        |r2 AS (SELECT *, ROW_NUMBER() OVER (ORDER BY resid, x) AS rn,
        |         COUNT(*) OVER () AS nd FROM resid)
        |SELECT n_pairs, CAST(nd AS BIGINT) AS n_days, m AS slope,
        |  resid AS intercept
        |FROM r2 WHERE rn = (nd-1)//2 + 1""".stripMargin)),

    // ---- Seasonal-trend decomposition outliers (the STL idea with
    // exact order statistics): split the daily revenue series into
    //   trend    = centered 7-day moving mean,
    //   seasonal = per-weekday mean of the detrended series,
    //   residual = series − trend − seasonal,
    // and flag days whose |residual| exceeds 3·1.4826·MAD — the
    // robust-z rule from q_mad_outliers applied to the DESEASONALIZED
    // series, which catches anomalies a raw z-score hides inside
    // weekly rhythm. EXACT integer arithmetic throughout: values ride
    // the floor(x·100+0.5) cents convention, every mean is an integer
    // division (Spark `div` and DuckDB `//` both truncate toward
    // zero, including negatives — probed, not assumed), the MAD is
    // the lower median picked by row number, and the flag is the
    // cross-multiplied comparison |resid|·10000 > mad·44478 — so both
    // engines replay every decision bit-for-bit, no float thresholds.
    // Scale shape: one partial-agg'd shuffle to daily cells, then all
    // windows ride the BOUNDED day spine (|days| rows — time, not
    // corpus, sized: ~36.5k rows per century), the two-level trick
    // the sweep-line and Holt queries use. At 100 TB the daily-cells
    // pass dominates and it is one map-side-combined exchange.
    "q_stl_outliers" -> QueryDef(
      fn = (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables(spark, dir, "events")
          .filter(col("value").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 100 + 0.5).cast("long"))
            .as("cents"))
        val detr = daily
          .withColumn("trend",
            expr("sum(cents) over (order by day rows between 3 preceding" +
              " and 3 following) div count(*) over (order by day rows" +
              " between 3 preceding and 3 following)"))
          .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
          .withColumn("detr", col("cents") - col("trend"))
        // seasonal = per-dow integer mean, truncating like DuckDB //
        val seas = detr
          .withColumn("seasonal",
            expr("sum(detr) over (partition by dow) div" +
              " count(*) over (partition by dow)"))
          .withColumn("resid", col("detr") - col("seasonal"))
        val n = Window.orderBy(abs(col("resid")), col("day"))
        val mad = seas
          .withColumn("rn", row_number().over(n).cast("long"))
          .withColumn("nd", count(lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .filter(col("rn") === expr("(nd - 1) div 2 + 1"))
          .select(abs(col("resid")).as("mad"))
        seas.crossJoin(broadcast(mad))
          .withColumn("is_outlier",
            (abs(col("resid")) * 10000 > col("mad") * 44478).cast("long"))
          .select("day", "cents", "trend", "seasonal", "resid", "mad",
            "is_outlier")
          .orderBy("day")
      },
      oracle = Some("""
        |WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |tr AS (
        |  SELECT day, cents,
        |    SUM(cents) OVER w7 // COUNT(*) OVER w7 AS trend,
        |    dayofweek(day) AS dow
        |  FROM daily
        |  WINDOW w7 AS (ORDER BY day
        |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |de AS (
        |  SELECT *, cents - trend AS detr FROM tr),
        |se AS (
        |  SELECT *,
        |    SUM(detr) OVER (PARTITION BY dow)
        |      // COUNT(*) OVER (PARTITION BY dow) AS seasonal
        |  FROM de),
        |re AS (
        |  SELECT day, cents, trend, seasonal, detr - seasonal AS resid
        |  FROM se),
        |md AS (
        |  SELECT abs(resid) AS mad FROM (
        |    SELECT resid,
        |      ROW_NUMBER() OVER (ORDER BY abs(resid), day) AS rn,
        |      COUNT(*) OVER () AS nd
        |    FROM re) WHERE rn = (nd - 1) // 2 + 1)
        |SELECT day, cents,
        |  CAST(trend AS BIGINT) AS trend,
        |  CAST(seasonal AS BIGINT) AS seasonal,
        |  CAST(resid AS BIGINT) AS resid,
        |  CAST(mad AS BIGINT) AS mad,
        |  CAST(CASE WHEN abs(resid) * 10000 > mad * 44478
        |       THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
        |FROM re CROSS JOIN md ORDER BY day""".stripMargin))
  )
}
