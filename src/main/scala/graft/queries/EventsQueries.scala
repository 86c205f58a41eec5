package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryModule, Tables}
import graft.streaming.EventsStream

/** Event-time windowing over the events table — the batch twins of the
  * streaming queries in [[EventsStream]] (same transformation
  * functions, so the oracle check covers the streaming logic too).
  */
object EventsQueries extends QueryModule {

  /** Per-query internal-frame caches, each bounded at ONE copy across
    * invocations (the Dedup.lastSigs release pattern): repeated
    * Bench/Verify runs must not accumulate cache entries. */
  private val lastSeries =
    graft.ops.BuildOnce.swapRef()
  private val lastTrans =
    graft.ops.BuildOnce.swapRef()
  private val lastFunnelS1 =
    graft.ops.BuildOnce.swapRef()
  private val lastMadDev =
    graft.ops.BuildOnce.swapRef()
  private val lastFunnelS2 =
    graft.ops.BuildOnce.swapRef()

  /** Build-once hourly-rollup store (the demo stand-in for a
    * RollupMaintenance-maintained production store). */
  private[graft] def rollupStoreFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.ops.BuildOnce.dir("rollup_store", spark,
        Tables.paths(dir, "events")) { store =>
      graft.streaming.RollupMaintenance.buildStore(
        Tables(spark, dir, "events"), store)
    }

  override def defs: Seq[(String, QueryDef)] = Seq(

    // ---- Tumbling 1-hour window aggregation (event time).
    "q_events_hourly" -> QueryDef(
      fn = (spark, dir) =>
        EventsStream.hourlyRollup(Tables(spark, dir, "events"))
          .orderBy("hour_start", "event_type"),
      oracle = Some("""
        |SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |       event_type,
        |       COUNT(*) AS n_events,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin),
      bench = true),

    // ---- Served materialized view (plans/MatViewRewriteRule): the
    // SAME from-scratch hourly-rollup code as q_events_hourly, but
    // with the rewrite rule installed and the RollupMaintenance store
    // registered — the optimizer substitutes the tiny pre-aggregated
    // store for the full event scan (plan-asserted in
    // MatViewServeSpec, staleness gate included). The oracle
    // recomputes the aggregate from the RAW events, so a PASS proves
    // the rewrite lossless — the IVM loop the engine maintains,
    // closed end-to-end at serving time.
    "q_rollup_served" -> QueryDef(
      fn = (spark, dir) => {
        val store = rollupStoreFor(spark, dir)
        graft.plans.MatViewRewriteRule.install(spark)
        graft.plans.MatViewRewriteRule.register(
          EventsStream.hourlyRollup(Tables(spark, dir, "events")), store,
          graft.streaming.RollupMaintenance.read(_, store))
        EventsStream.hourlyRollup(Tables(spark, dir, "events"))
          .orderBy("hour_start", "event_type")
      },
      oracle = Some("""
        |SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |       event_type,
        |       COUNT(*) AS n_events,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin)),

    // ---- Roll-up serving (the aggregate-COARSENING face of
    // MatViewRewriteRule): a per-type total the user writes against
    // the RAW events is served by re-aggregating the (hour, type)
    // store — SUM of the stored per-hour counts — because the
    // candidate's grouping keys are a subset of the view's, COUNT
    // re-aggregates as SUM(count), and its filter residue equals the
    // view's (isnotnull(ts) — the window expansion plants it on the
    // view side, so the store is blind to null-ts rows and a coarse
    // query WITHOUT the filter must never be served; the explicit
    // .filter here is that contract made visible). The oracle
    // recomputes from raw events = losslessness proof; the plan
    // assert lives in MatViewServeSpec. At 100 TB this is the
    // dashboard class served from B rows instead of the event log.
    "q_rollup_coarse_served" -> QueryDef(
      fn = (spark, dir) => {
        val store = rollupStoreFor(spark, dir)
        graft.plans.MatViewRewriteRule.install(spark)
        graft.plans.MatViewRewriteRule.register(
          EventsStream.hourlyRollup(Tables(spark, dir, "events")), store,
          graft.streaming.RollupMaintenance.read(_, store))
        Tables(spark, dir, "events")
          .filter(col("ts").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"))
          .orderBy("event_type")
      },
      oracle = Some("""
        |SELECT event_type, COUNT(*) AS n_events
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Sliding windows: 2-hour window sliding by 1 hour (same
    // definition as the streaming twin, EventsStream.slidingRollup).
    "q_events_sliding" -> QueryDef(
      fn = (spark, dir) =>
        EventsStream.slidingRollup(Tables(spark, dir, "events"))
          .orderBy("win_start", "event_type"),
      oracle = Some("""
        |WITH buckets AS (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS b, event_type FROM events),
        |slid AS (
        |  SELECT b AS win_start, event_type, COUNT(*) AS n FROM buckets GROUP BY 1, 2
        |  UNION ALL
        |  SELECT b - INTERVAL '1 hour' AS win_start, event_type, COUNT(*) AS n
        |  FROM buckets GROUP BY 1, 2)
        |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
        |       CAST(SUM(n) AS BIGINT) AS n_events
        |FROM slid GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)),

    // ---- Interval join (stream-stream join's batch twin): purchases
    // attributed to same-user clicks in the preceding 10 minutes. The
    // user_id equality keys the join (hash/sort-merge, never a nested
    // loop); the time bounds filter post-join. The SAME definition
    // runs as a watermarked stream-stream join (EventsStreamSpec
    // parity test).
    "q_click_attribution" -> QueryDef(
      fn = (spark, dir) => {
        val ev = Tables(spark, dir, "events")
        EventsStream.clickAttribution(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"))
          .orderBy("click_id", "purchase_id")
      },
      oracle = Some("""
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |       c.user_id AS user_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS micros_after
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL '10 minutes'
        |ORDER BY click_id, purchase_id""".stripMargin),
      bench = true),

    // ---- Session windows: 30-minute-gap sessionization per user.
    // Spark: built-in session_window. DuckDB: classic gaps-and-islands
    // (new session when the gap since the previous event is >= 30 min —
    // Spark merges events strictly inside start+gap).
    "q_events_sessions" -> QueryDef(
      fn = (spark, dir) => Tables(spark, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start"),
      oracle = Some("""
        |WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged)
        |SELECT user_id,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin)),

    // ---- Cross-series correlation: Pearson r between the hourly
    // count series of every event-type pair, from EXACT integer
    // moments (the q_weather_trend discipline — counts are BIGINTs,
    // so Σx/Σx²/Σxy accumulate exactly in any order; the only double
    // ops are two casts, one multiply, one sqrt, one division — all
    // correctly-rounded IEEE, so the oracle matches bit-for-bit). The
    // hour grid zero-fills via two NARROW explodes (hour sequence ×
    // literal type list — no cross join of data-sized inputs); the
    // pair join is keyed on the hour with a bounded 5-row fanout per
    // side. Zero-variance pairs are filtered identically on both
    // engines BEFORE the division (Spark 0/0 → NULL vs DuckDB NaN
    // would otherwise diverge). RANGE CAVEAT: BIGINT moments are
    // exact while hourly counts stay under ~3e9 (x² and n·Σx² must
    // fit 64 bits; ANSI mode fails LOUDLY on overflow, it cannot
    // silently wrap) — beyond that, lift the moment sums to
    // DECIMAL(38,0), which stays exact and oracle-replayable.
    "q_type_correlation" -> QueryDef(
      fn = (spark, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val ev = Tables(spark, dir, "events")
        val counts = ev
          .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val spine = ev.agg(date_trunc("hour", min(col("ts"))).as("h0"),
            date_trunc("hour", max(col("ts"))).as("h1"))
          .select(explode(sequence(col("h0"), col("h1"),
            expr("interval 1 hour"))).as("h"))
          .select(col("h"), explode(array(types.map(lit): _*)).as("event_type"))
        // persisted: the self-join below reads series on BOTH sides —
        // unpersisted, the events scan + counts agg + spine scan all
        // run twice (~4 events scans for one query). Previous
        // invocation's copy released (bounded at one)
        val series = graft.ops.BuildOnce.swapPersist(lastSeries,
          spine.join(counts, Seq("h", "event_type"), "left")
            .withColumn("n", coalesce(col("n"), lit(0L))))
        val pairs = series
          .select(col("h"), col("event_type").as("ta"), col("n").as("x"))
          .join(series.select(col("h"), col("event_type").as("tb"),
            col("n").as("y")), "h")
          .filter(col("ta") < col("tb"))
        val mom = pairs.groupBy("ta", "tb").agg(
          count(lit(1)).as("nh"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        val vx = col("nh") * col("sxx") - col("sx") * col("sx")
        val vy = col("nh") * col("syy") - col("sy") * col("sy")
        mom.filter(vx > 0 && vy > 0)
          .withColumn("r",
            (col("nh") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt(vx.cast("double") * vy.cast("double")))
          .select(col("ta").as("type_a"), col("tb").as("type_b"),
            col("nh").as("n_hours"), col("r"))
          .orderBy("type_a", "type_b")
      },
      oracle = Some("""
        |WITH counts AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT date_trunc('hour', MIN(ts)) AS h0,
        |         date_trunc('hour', MAX(ts)) AS h1 FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM bounds),
        |grid AS (
        |  SELECT s.h, t.event_type FROM spine s CROSS JOIN
        |    (SELECT unnest(['click','error','purchase','signup','view'])
        |       AS event_type) t),
        |series AS (
        |  SELECT g.h, g.event_type, COALESCE(c.n, 0) AS n
        |  FROM grid g LEFT JOIN counts c USING (h, event_type)),
        |pairs AS (
        |  SELECT a.h, a.event_type AS ta, b.event_type AS tb, a.n AS x, b.n AS y
        |  FROM series a JOIN series b USING (h)
        |  WHERE a.event_type < b.event_type),
        |mom AS (
        |  SELECT ta, tb, COUNT(*) AS nh,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy
        |  FROM pairs GROUP BY ta, tb)
        |SELECT ta AS type_a, tb AS type_b, nh AS n_hours,
        |  CAST(nh*sxy - sx*sy AS DOUBLE)
        |    / sqrt(CAST(nh*sxx - sx*sx AS DOUBLE) * CAST(nh*syy - sy*sy AS DOUBLE)) AS r
        |FROM mom
        |WHERE (nh*sxx - sx*sx) > 0 AND (nh*syy - sy*sy) > 0
        |ORDER BY type_a, type_b""".stripMargin)),

    // ---- Event-type transition matrix (first-order Markov fit):
    // count (from_type -> to_type) over each user's time-ordered
    // stream, plus the row-conditional probability. The lag is a
    // USER-partitioned window — the stream orders within a user only
    // (one shuffle on user_id, no global sort), and the probability
    // is an exact-count ratio: one IEEE division, oracle-bit-exact.
    // Tie-break (ts, event_id) because timestamps can collide.
    "q_event_transitions" -> QueryDef(
      fn = (spark, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        // persisted: totals AND the final join both read it — the
        // lag window over the full event stream must run once.
        // Previous invocation's copy released (bounded at one)
        val trans = graft.ops.BuildOnce.swapPersist(lastTrans,
          Tables(spark, dir, "events")
            .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
            .withColumn("to_type", lead(col("event_type"), 1).over(w))
            .filter(col("to_type").isNotNull)
            .groupBy(col("event_type").as("from_type"), col("to_type"))
            .agg(count(lit(1)).as("n")))
        val totals = trans.groupBy("from_type").agg(sum("n").as("n_from"))
        trans.join(totals, "from_type")
          .withColumn("p", col("n").cast("double") / col("n_from").cast("double"))
          .select("from_type", "to_type", "n", "p")
          .orderBy("from_type", "to_type")
      },
      oracle = Some("""
        |WITH seq AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |trans AS (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM seq
        |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |totals AS (
        |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        |  FROM trans GROUP BY from_type)
        |SELECT t.from_type, t.to_type, t.n,
        |  CAST(t.n AS DOUBLE) / CAST(tt.n_from AS DOUBLE) AS p
        |FROM trans t JOIN totals tt USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin)),

    // ---- OHLC downsampling: per (hour, event_type) open/high/low/
    // close of `value` — the classic time-series bar compaction. Pure
    // SELECTION aggregates (min_by/max_by/min/max — no arithmetic on
    // doubles, so nothing to drift): one map-side-combined shuffle on
    // the (hour, type) key. Open/close tie-break on (ts, event_id)
    // structs because timestamps can collide at micros resolution —
    // without the id the result would be partition-order-dependent.
    "q_ohlc" -> QueryDef(
      fn = (spark, dir) => Tables(spark, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          count(lit(1)).as("n"))
        .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("open"), col("high"), col("low"),
          col("close"), col("n"))
        .orderBy("hour_start", "event_type"),
      oracle = Some("""
        |WITH ranked AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
        |                       ORDER BY ts, event_id) AS rf,
        |    ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rl
        |  FROM events)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start, event_type,
        |  MAX(CASE WHEN rf = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rl = 1 THEN value END) AS close,
        |  COUNT(*) AS n
        |FROM ranked GROUP BY h, event_type
        |ORDER BY hour_start, event_type""".stripMargin)),

    // ---- Ordered funnel: signup -> first click AFTER signup ->
    // first purchase AFTER that click, per user; output is the stage
    // conversion counts. The staged shape is the scale shape: each
    // stage is a per-user MIN aggregation plus an equi-join on
    // user_id — every shuffle is keyed on the (uniform) user id, and
    // stage N's frame only carries the users still in the funnel
    // (monotonically shrinking). No event arrays are collected; a
    // collect_list-per-user formulation would break down on a power
    // user with 10^8 events.
    "q_funnel" -> QueryDef(
      fn = (spark, dir) => {
        val ev = Tables(spark, dir, "events")
        def stage(evType: String, after: org.apache.spark.sql.DataFrame,
            tCol: String, outCol: String) =
          ev.filter(col("event_type") === evType)
            .join(after, "user_id")
            .filter(col("ts") > col(tCol))
            .groupBy("user_id").agg(min(col("ts")).as(outCol))
        // s1/s2 feed both their own count AND the next stage — persist
        // so the 3-stage funnel scans events once per stage, not ~6
        // times (each frame is per-user aggregates, funnel-shrinking)
        val s1 = graft.ops.BuildOnce.swapPersist(lastFunnelS1,
          ev.filter(col("event_type") === "signup")
            .groupBy("user_id").agg(min(col("ts")).as("t1")))
        val s2 = graft.ops.BuildOnce.swapPersist(lastFunnelS2,
          stage("click", s1, "t1", "t2"))
        val s3 = stage("purchase", s2.select("user_id", "t2"), "t2", "t3")
        // fixed-order single-row output: exact BIGINT counts
        s1.agg(count(lit(1)).as("n_signup"))
          .crossJoin(s2.agg(count(lit(1)).as("n_click_after")))
          .crossJoin(s3.agg(count(lit(1)).as("n_purchase_after")))
      },
      oracle = Some("""
        |WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |  GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
        |       (SELECT COUNT(*) FROM s2) AS n_click_after,
        |       (SELECT COUNT(*) FROM s3) AS n_purchase_after""".stripMargin)),

    // ---- Cohort retention: users cohorted by the week of their
    // first event; a cell counts the cohort's distinct active users
    // at each whole-week offset. Two shuffles total (per-user first
    // event; the (cohort, offset) distinct-count) — both keyed on
    // uniform ids, no window over the full event stream. Offsets are
    // exact integer arithmetic on epoch seconds, so the oracle
    // replays them bit-for-bit.
    "q_cohort_retention" -> QueryDef(
      fn = (spark, dir) => {
        val ev = Tables(spark, dir, "events")
        val firsts = ev.groupBy("user_id").agg(min(col("ts")).as("first_ts"))
          .select(col("user_id"),
            date_trunc("week", col("first_ts")).as("cohort_week"))
        ev.select(col("user_id"), date_trunc("week", col("ts")).as("w"))
          .join(firsts, "user_id")
          // integer floor-div on exact epoch seconds (Spark's `/` on
          // longs is DOUBLE division; offsets are non-negative so the
          // long cast truncates identically to DuckDB's `//`)
          .groupBy(col("cohort_week"), ((unix_timestamp(col("w")) -
            unix_timestamp(col("cohort_week"))) / 604800L)
            .cast("long").as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .select(
            date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
            col("week_offset"), col("n_active"))
          .orderBy("cohort_week", "week_offset")
      },
      oracle = Some("""
        |WITH firsts AS (
        |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        |  FROM events GROUP BY user_id),
        |activity AS (
        |  SELECT e.user_id, f.cohort_week,
        |    (epoch(date_trunc('week', e.ts))::BIGINT
        |      - epoch(f.cohort_week)::BIGINT) // 604800 AS week_offset
        |  FROM events e JOIN firsts f USING (user_id))
        |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, week_offset,
        |       COUNT(DISTINCT user_id) AS n_active
        |FROM activity GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin)),

    // ---- Robust (Tukey-fence) outlier detection per event type:
    // quartiles as EXACT order statistics — the value at 0-based rank
    // (n-1)//4 resp. 3*(n-1)//4 under the total order (value,
    // event_id) — never interpolated, so both engines pick the same
    // stored double and the fence arithmetic (one subtract, one
    // multiply by the exactly-representable 1.5, one add, in the
    // same order) is bit-identical IEEE. This is the oracle-parity
    // trick that makes a double-valued "statistical" query
    // hash-checkable at all: rank selection instead of averaging.
    //
    // Scale shape: one shuffle on event_type for the rank pass, then
    // the per-type fence frame (<= #types rows) broadcasts back onto
    // the raw scan — the detector itself is a codegen'd filter. At
    // 100 TB the exact rank pass is the only O(n log n) piece; it
    // swaps for approx_percentile without touching the fence join or
    // the filter (the interface between the passes is just (type, q1,
    // q3)). Exact is kept here because it is what the oracle can
    // replay.
    "q_iqr_outliers" -> QueryDef(
      fn = (spark, dir) => {
        val ev = Tables(spark, dir, "events")
          .select("event_id", "event_type", "value")
        val byType = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
        val ranked = ev
          .withColumn("rn", row_number().over(
            byType.orderBy(col("value"), col("event_id"))))
          .withColumn("n", count(lit(1)).over(byType))
        val fences = ranked
          .filter(col("rn") === expr("(n-1) div 4 + 1") ||
            col("rn") === expr("(3*(n-1)) div 4 + 1"))
          .groupBy("event_type")
          .agg(
            min(when(col("rn") === expr("(n-1) div 4 + 1"), col("value")))
              .as("q1"),
            min(when(col("rn") === expr("(3*(n-1)) div 4 + 1"), col("value")))
              .as("q3"))
        ev.join(broadcast(fences), "event_type")
          .filter(col("value") < col("q1") - (col("q3") - col("q1")) * 1.5 ||
            col("value") > col("q3") + (col("q3") - col("q1")) * 1.5)
          .select(col("event_id"), col("event_type"), col("value"),
            (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo_fence"),
            (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi_fence"))
          .orderBy("event_id")
      },
      oracle = Some("""
        |WITH e AS (SELECT event_id, event_type, value FROM events),
        |r AS (SELECT *,
        |        ROW_NUMBER() OVER (PARTITION BY event_type
        |                           ORDER BY value, event_id) AS rn,
        |        COUNT(*) OVER (PARTITION BY event_type) AS n
        |      FROM e),
        |f AS (SELECT event_type,
        |        MIN(CASE WHEN rn = (n-1)//4 + 1 THEN value END) AS q1,
        |        MIN(CASE WHEN rn = (3*(n-1))//4 + 1 THEN value END) AS q3
        |      FROM r GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |       f.q1 - (f.q3 - f.q1) * 1.5 AS lo_fence,
        |       f.q3 + (f.q3 - f.q1) * 1.5 AS hi_fence
        |FROM e JOIN f USING (event_type)
        |WHERE e.value < f.q1 - (f.q3 - f.q1) * 1.5
        |   OR e.value > f.q3 + (f.q3 - f.q1) * 1.5
        |ORDER BY event_id""".stripMargin)),

    // ---- Robust dispersion per type: median + MAD (median absolute
    // deviation) — the outlier rule that survives what breaks IQR
    // fences (a 25%-contaminated tail shifts quartiles; the MAD
    // breaks down only past 50%). TWO dependent rank selections: the
    // median must exist before deviations do, so pass 2's order
    // statistic is computed over a column pass 1 produced — the
    // pattern that makes this a distinct operator from q_iqr_outliers
    // (one selection) and q_percentiles (engine aggregate).
    // Determinism: LOWER median via rank (n-1) div 2 + 1 under the
    // total order (value, event_id) — an element of the data, never
    // an interpolation; |x−med| and mad*3.0 are single IEEE ops both
    // engines replay. Scale: each selection is one by-type rank pass
    // (the two window shuffles are the operator's intrinsic cost —
    // swap both for approx_percentile at 100 TB without touching the
    // joins, the interface is just (type, 1 cutpoint)); the per-type
    // stats broadcast back, and the deviation frame is PERSISTED so
    // the MAD pass and the final rollup read one cached copy instead
    // of re-scanning and re-joining events (swap-release, bounded at
    // one copy — the lastSeries pattern).
    "q_mad_outliers" -> QueryDef(
      fn = (spark, dir) => {
        val byType = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
        val ev = Tables(spark, dir, "events")
          .select("event_id", "event_type", "value")
        def lowerMedian(df: org.apache.spark.sql.DataFrame, c: String) = df
          .withColumn("rn", row_number().over(
            byType.orderBy(col(c), col("event_id"))))
          .withColumn("n", count(lit(1)).over(byType))
          .filter(col("rn") === expr("(n-1) div 2 + 1"))
        val med = lowerMedian(ev, "value")
          .select(col("event_type"), col("value").as("med"))
        val dev = graft.ops.BuildOnce.swapPersist(lastMadDev,
          ev.join(broadcast(med), "event_type")
            .withColumn("ad", abs(col("value") - col("med"))))
        val mad = lowerMedian(dev, "ad")
          .select(col("event_type"), col("ad").as("mad"))
        dev.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            min("med").as("median"), // constant per type
            min("mad").as("mad"),
            sum(when(col("ad") > col("mad") * 3.0, 1L).otherwise(0L))
              .as("n_outliers"))
          .orderBy("event_type")
      },
      oracle = Some("""
        |WITH e AS (SELECT event_id, event_type, value FROM events),
        |r1 AS (SELECT *,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY value, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |       FROM e),
        |m AS (SELECT event_type, value AS med FROM r1
        |      WHERE rn = (n-1)//2 + 1),
        |d AS (SELECT e.event_id, e.event_type, e.value, m.med,
        |        abs(e.value - m.med) AS ad
        |      FROM e JOIN m USING (event_type)),
        |r2 AS (SELECT *,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY ad, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |       FROM d),
        |md AS (SELECT event_type, ad AS mad FROM r2
        |       WHERE rn = (n-1)//2 + 1)
        |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(d.med) AS median, MIN(md.mad) AS mad,
        |  CAST(SUM(CASE WHEN d.ad > md.mad * 3.0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)),

    // ---- TWO-PROPORTION A/B TEST with SRM guard — the experiment
    // readout a product warehouse runs constantly: deterministic
    // variant assignment (user_id parity — what a hash-bucketed
    // assignment is at steady state), per-USER conversion (≥1
    // HIGH-VALUE purchase, value ≥ 90 — the fixture corpus is small
    // enough that every user purchases SOMETHING; user-grain first, so heavy users don't weight the
    // proportion), then the 2×2 chi-square in EXACT integers — the
    // cross-multiplied form n·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)),
    // widened to DECIMAL(38,0) before the squares (n⁴ territory:
    // Long wraps past ~55k users; the decimal budget holds to ~2·10⁹
    // — past that, pre-aggregate strata). Significance is declared
    // at milli-precision against the fixed χ²₍₀.₀₅,₁₎ = 3.841
    // literal (integer compare — no p-value libm on either engine),
    // and the SAMPLE-RATIO-MISMATCH guard applies the same statistic
    // to the split itself vs 50/50 — the assignment-bug detector an
    // experiment must pass before its lift is even meaningful.
    // nullif guards the degenerate tables (all/none converted) to
    // NULL on both engines. Scale shape: one user-grain rollup
    // (map-side combined) → a 2-row frame → one-row output; nothing
    // user-scale crosses the wire after the first aggregate.
    "q_ab_test" -> QueryDef(
      fn = (spark, dir) => {
        // the user rollup and the 2x2 report are ONE definition shared
        // with the streaming twin (ExperimentMonitor.conversionFlag /
        // abReport) — the q_ks_drift/DriftMonitor discipline: the
        // oracle gate on this batch query covers the monitor's math
        val users = Tables(spark, dir, "events")
          .groupBy(col("user_id"))
          .agg(max(graft.streaming.ExperimentMonitor.conversionFlag)
            .as("conv"))
          .withColumn("variant", col("user_id") % 2)
        graft.streaming.ExperimentMonitor.abReport(
          users.select("variant", "conv"))
      },
      oracle = Some("""
        |WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase'
        |          AND value >= 90.0 THEN 1 ELSE 0 END) AS conv,
        |    user_id % 2 AS variant
        |  FROM events GROUP BY user_id),
        |c AS (SELECT variant, COUNT(*) AS n, SUM(conv) AS k
        |      FROM u GROUP BY variant),
        |t AS (SELECT
        |    SUM(CASE WHEN variant = 0 THEN n END) AS n0,
        |    SUM(CASE WHEN variant = 0 THEN k END) AS k0,
        |    SUM(CASE WHEN variant = 1 THEN n END) AS n1,
        |    SUM(CASE WHEN variant = 1 THEN k END) AS k1
        |  FROM c),
        |s AS (SELECT n0, k0, n1, k1,
        |    CAST(k1 AS HUGEINT) * (n0 - k0)
        |      - CAST(n1 - k1 AS HUGEINT) * k0 AS adbc
        |  FROM t),
        |x AS (SELECT *,
        |    CAST(n0 + n1 AS HUGEINT) * adbc * adbc AS chi2_num,
        |    CAST(n1 AS HUGEINT) * n0 * (k0 + k1)
        |      * (n0 - k0 + n1 - k1) AS chi2_den
        |  FROM s)
        |SELECT CAST(n0 AS BIGINT) AS n0, CAST(k0 AS BIGINT) AS k0,
        |  CAST(n1 AS BIGINT) AS n1, CAST(k1 AS BIGINT) AS k1,
        |  CAST(k0 * 10000 // n0 AS BIGINT) AS p0_bp,
        |  CAST(k1 * 10000 // n1 AS BIGINT) AS p1_bp,
        |  CAST(k1 * 10000 // n1 - k0 * 10000 // n0 AS BIGINT)
        |    AS lift_bp,
        |  CAST((chi2_num * 1000) // nullif(chi2_den, 0) AS BIGINT)
        |    AS chi2_milli,
        |  CAST((chi2_num * 1000) // nullif(chi2_den, 0) >= 3841
        |    AS BIGINT) AS significant,
        |  CAST((CAST(n0 - n1 AS HUGEINT) * (n0 - n1) * 1000)
        |    // (n0 + n1) AS BIGINT) AS srm_chi2_milli,
        |  CAST((CAST(n0 - n1 AS HUGEINT) * (n0 - n1) * 1000)
        |    // (n0 + n1) >= 3841 AS BIGINT) AS srm_flag
        |FROM x""".stripMargin))
  )
}
