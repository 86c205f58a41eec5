package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryModule, Tables}

/** Time-series and analytic-function surface: gap-filling a sparse
  * series over a generated spine, the full rank-family window
  * functions, correlated scalar subqueries (Catalyst decorrelation),
  * and vocabulary statistics via generator explode.
  */
object AnalyticsQueries extends QueryModule {

  /** q_rfm_segments' per-customer frame, persisted across the three
    * rank passes + bucket join; swap-released so repeated Bench/Verify
    * invocations never accumulate pinned cache entries. */
  private val lastRfm =
    graft.ops.BuildOnce.swapRef()

  /** The CDC fixture's base snapshot — the orders slice both CDC
    * queries merge the changelog into. */
  private def cdcBase(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")

  /** The deterministic CDC changelog over `o` (key-modulus waves, so
    * sequencing is actually exercised: %21-keys get two updates,
    * %77-keys an update then a delete). Insert keys are NEGATED
    * organic keys: organic and ScaleUp replica keys are all positive
    * (replicas shift by k·10^7), so a negative insert key can never
    * collide with an existing key at ANY replication factor — a fixed
    * positive offset would land inside replica ≥10's key space and
    * silently stop exercising the insert path at scaled data. */
  private def cdcLog(o: DataFrame): DataFrame = {
    def arm(src: DataFrame, key: Column, status: Column, price: Column,
        op: String, seq: Long): DataFrame =
      src.select(key.as("o_orderkey"), status.as("o_orderstatus"),
        price.as("o_totalprice"), lit(op).as("op"), lit(seq).as("seq"))
    val upd1 = arm(o.filter(col("o_orderkey") % 7 === 0),
      col("o_orderkey"), lit("X"), col("o_totalprice") * 1.05, "U", 1L)
    val del = arm(o.filter(col("o_orderkey") % 11 === 0),
      col("o_orderkey"), lit(""), lit(0.0), "D", 2L)
    val ins = arm(o.filter(col("o_orderkey") % 13 === 0),
      -col("o_orderkey"), lit("N"), col("o_totalprice"), "U", 3L)
    val upd2 = arm(o.filter(col("o_orderkey") % 21 === 0),
      col("o_orderkey"), lit("Y"), col("o_totalprice") * 1.1, "U", 4L)
    upd1.unionByName(del).unionByName(ins).unionByName(upd2)
  }

  /** The oracle's replay of base + [[cdcLog]] (base enters at seq 0,
    * below every log wave) — shared so the fixture changes in ONE
    * place on both engines. */
  private val cdcLogSql = """
    |WITH o AS (
    |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    |log AS (
    |  SELECT o_orderkey, o_orderstatus, o_totalprice,
    |    'U' AS op, CAST(0 AS BIGINT) AS seq FROM o
    |  UNION ALL
    |  SELECT o_orderkey, 'X',
    |    o_totalprice * CAST(1.05 AS DOUBLE), 'U', 1
    |  FROM o WHERE o_orderkey % 7 = 0
    |  UNION ALL
    |  SELECT o_orderkey, '', CAST(0.0 AS DOUBLE), 'D', 2
    |  FROM o WHERE o_orderkey % 11 = 0
    |  UNION ALL
    |  SELECT -o_orderkey, 'N', o_totalprice, 'U', 3
    |  FROM o WHERE o_orderkey % 13 = 0
    |  UNION ALL
    |  SELECT o_orderkey, 'Y',
    |    o_totalprice * CAST(1.1 AS DOUBLE), 'U', 4
    |  FROM o WHERE o_orderkey % 21 = 0)""".stripMargin.stripPrefix("\n")

  /** Build-once CDC store for q_cdc_asof: base snapshot load, then the log folded in
    * three micro-batches — update wave, delete wave, insert+update
    * waves — through the same mergeBatch path the streaming maintainer
    * runs. */
  private def cdcStoreFor(spark: SparkSession, dir: String): String =
    graft.ops.BuildOnce.dir("cdc_store", spark,
        Tables.paths(dir, "orders")) { store =>
      val keys = Seq("o_orderkey")
      val o = cdcBase(spark, dir)
      val log = cdcLog(o)
      val buckets = 8
      graft.streaming.CdcMaintenance.buildStore(o, keys, store, buckets)
      Seq(col("seq") === 1, col("seq") === 2, col("seq") >= 3).foreach {
        slice =>
          graft.streaming.CdcMaintenance.mergeBatch(
            spark, store, log.filter(slice), keys, buckets)
      }
    }

  override def defs: Seq[(String, QueryDef)] = Seq(

    // ---- SCD2 rebuild from a change log (pipeline/Scd2.rebuild):
    // orders as a fake priority-change log per customer; no-op
    // changes dropped via lag, validity chained via lead — two
    // windows over ONE shuffle on the key. The incremental
    // Scd2.apply path is differentially tested against this rebuild
    // in Scd2Spec.
    "q_scd2_rebuild" -> QueryDef(
      fn = (spark, dir) => {
        val w = Window.partitionBy("o_custkey", "o_orderdate")
          .orderBy("o_orderkey")
        val log = Tables(spark, dir, "orders")
          .filter(col("o_custkey") < 200)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderpriority"),
            col("o_orderdate").as("effective_ts"))
        graft.pipeline.Scd2.rebuild(log, "o_custkey", Seq("o_orderpriority"))
          .select(col("o_custkey"), col("o_orderpriority"),
            date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
            coalesce(date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss"),
              lit("open")).as("valid_to"),
            col("is_current").cast("long").as("is_current"))
          .orderBy("o_custkey", "valid_from")
      },
      oracle = Some("""
        |WITH log AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate FROM (
        |    SELECT o_custkey, o_orderpriority, o_orderdate,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |                         ORDER BY o_orderkey) AS rn
        |    FROM orders WHERE o_custkey < 200) WHERE rn = 1),
        |chg AS (
        |  SELECT * FROM (
        |    SELECT o_custkey, o_orderpriority, o_orderdate,
        |      LAG(o_orderpriority) OVER (PARTITION BY o_custkey
        |                                 ORDER BY o_orderdate) AS prev
        |    FROM log)
        |  WHERE prev IS NULL OR o_orderpriority != prev)
        |SELECT o_custkey, o_orderpriority,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  COALESCE(strftime(LEAD(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate), '%Y-%m-%d %H:%M:%S'), 'open') AS valid_to,
        |  CAST(LEAD(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate) IS NULL AS BIGINT) AS is_current
        |FROM chg ORDER BY o_custkey, valid_from""".stripMargin)),

    // ---- SCD2 point-in-time lookup (pipeline/Scd2.asOf): the
    // dimension AS IT STOOD on 1996-06-01 — the version whose
    // [valid_from, valid_to) interval covers the probe instant, one
    // row per key then known. This is the read path every fact-table
    // backfill join uses against a versioned dimension; the interval
    // predicate is a plain filter over the rebuilt dim (at warehouse
    // scale: a partition-pruned read of the is_current=false slice
    // plus the open one — no join, no window).
    "q_scd2_asof" -> QueryDef(
      fn = (spark, dir) => {
        val w = Window.partitionBy("o_custkey", "o_orderdate")
          .orderBy("o_orderkey")
        val log = Tables(spark, dir, "orders")
          .filter(col("o_custkey") < 200)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderpriority"),
            col("o_orderdate").as("effective_ts"))
        val dim = graft.pipeline.Scd2.rebuild(log, "o_custkey",
          Seq("o_orderpriority"))
        graft.pipeline.Scd2.asOf(dim, lit("1996-06-01").cast("timestamp"))
          .select(col("o_custkey"), col("o_orderpriority"),
            date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"))
          .orderBy("o_custkey")
      },
      oracle = Some("""
        |WITH log AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate FROM (
        |    SELECT o_custkey, o_orderpriority, o_orderdate,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |                         ORDER BY o_orderkey) AS rn
        |    FROM orders WHERE o_custkey < 200) WHERE rn = 1),
        |chg AS (
        |  SELECT * FROM (
        |    SELECT o_custkey, o_orderpriority, o_orderdate,
        |      LAG(o_orderpriority) OVER (PARTITION BY o_custkey
        |                                 ORDER BY o_orderdate) AS prev
        |    FROM log)
        |  WHERE prev IS NULL OR o_orderpriority != prev),
        |dim AS (
        |  SELECT o_custkey, o_orderpriority,
        |    o_orderdate AS valid_from,
        |    LEAD(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate) AS valid_to
        |  FROM chg)
        |SELECT o_custkey, o_orderpriority,
        |  strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from
        |FROM dim
        |WHERE valid_from <= TIMESTAMP '1996-06-01'
        |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '1996-06-01')
        |ORDER BY o_custkey""".stripMargin)),

    // ---- CDC MERGE batch apply (the warehouse MERGE INTO / Delta
    // upsert compaction): a base snapshot plus a sequenced changelog
    // of upserts and deletes collapse to the latest state per key —
    // latest-wins by change sequence, deletes drop the key, upserts
    // insert-or-replace (a 'U' after a 'D' resurrects the key, the
    // standard CDC-log replay semantics). The changelog here is
    // derived DETERMINISTICALLY from orders (key-modulus slices with
    // overlapping keys, so seq ordering is actually exercised:
    // %21-keys get two updates, %77-keys an update then a delete).
    // Scale shape: ONE shuffle on the key; latest-wins is a max_by
    // aggregation — partial per partition (each map task pre-collapses
    // its slice of the log), so what reaches the exchange is ≤ one row
    // per key per partition, never the raw log. This is the same
    // compaction a streaming CDC sink runs per micro-batch; the
    // incremental twin is ops/JoinView's stamped delta fold.
    "q_cdc_merge" -> QueryDef(
      fn = (spark, dir) => {
        val o = cdcBase(spark, dir)
        graft.pipeline.CdcMerge(o, cdcLog(o), keys = Seq("o_orderkey"))
          .orderBy("o_orderkey")
      },
      oracle = Some(s"""
        |$cdcLogSql,
        |latest AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |                               ORDER BY seq DESC) AS rn
        |  FROM log)
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM latest WHERE rn = 1 AND op != 'D'
        |ORDER BY o_orderkey""".stripMargin),
      bench = true), // the one-shuffle MERGE compaction at fact volume

    // ---- CDC POINT-IN-TIME read (CdcMaintenance.asOfSeq): the table
    // as it stood after sequence ≤ 2 — the delete wave applied, the
    // insert and second-update waves not yet. Served the PRODUCTION
    // way: a compacted latest-state store is built ONCE per dataset
    // (buildStore + three mergeBatch folds, memoized like the star
    // warehouse and the served indexes) and the as-of read unions
    // store rows ≤ seq with the retained log tail ≤ seq, latest-wins
    // — most keys answer straight from the store; only keys the store
    // compacted PAST the target point replay from the log. The oracle
    // replays the full log with the same sequence cutoff (the
    // store+tail == filtered-replay identity CdcMaintenanceSpec pins),
    // so the served artifact is hash-gated, not just spec'd. The
    // fixture satisfies asOfSeq's retention-horizon contract at
    // asOf=2 by construction: the only keys the store compacted past
    // seq 2 are the %21 wave (⊂ %7, so their seq-1 history is in the
    // log) and the negated-key inserts (born at seq 3 — correctly
    // absent as of 2).
    "q_cdc_asof" -> QueryDef(
      fn = (spark, dir) => {
        val o = cdcBase(spark, dir)
        graft.streaming.CdcMaintenance
          .asOfSeq(spark, cdcStoreFor(spark, dir), cdcLog(o),
            keys = Seq("o_orderkey"), asOf = 2L)
          .orderBy("o_orderkey")
      },
      oracle = Some(s"""
        |$cdcLogSql,
        |latest AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |                               ORDER BY seq DESC) AS rn
        |  FROM log WHERE seq <= 2)
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM latest WHERE rn = 1 AND op != 'D'
        |ORDER BY o_orderkey""".stripMargin)),

    // ---- Data-contract report (ops/QualityChecks): nullability +
    // domain checks fold into ONE conditional-aggregation pass per
    // table; duplicate keys are a count-distinct; FK orphans are
    // anti-join counts. The report is a handful of rows at any scale.
    "q_dq_report" -> QueryDef(
      fn = (spark, dir) => {
        import graft.ops.QualityChecks._
        val orders = Tables(spark, dir, "orders")
        val lineitem = Tables(spark, dir, "lineitem")
        val customer = Tables(spark, dir, "customer")
        report(
          columnChecks(orders,
            "null_custkey" -> col("o_custkey").isNull,
            "nonpositive_totalprice" -> (col("o_totalprice") <= 0),
            "bad_orderstatus" -> !col("o_orderstatus").isin("O", "F", "P")),
          duplicateKeys(orders, "dup_orderkey", "o_orderkey"),
          orphans(lineitem, "l_orderkey", orders, "o_orderkey",
            "orphan_lineitem"),
          orphans(orders, "o_custkey", customer, "c_custkey",
            "orphan_orders_customer"))
      },
      oracle = Some("""
        |SELECT check_name, CAST(n_bad AS BIGINT) AS n_bad FROM (
        |  SELECT 'null_custkey' AS check_name,
        |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS n_bad FROM orders
        |  UNION ALL SELECT 'nonpositive_totalprice',
        |    SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) FROM orders
        |  UNION ALL SELECT 'bad_orderstatus',
        |    SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) FROM orders
        |  UNION ALL SELECT 'dup_orderkey',
        |    COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
        |  UNION ALL SELECT 'orphan_lineitem', COUNT(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL SELECT 'orphan_orders_customer', COUNT(*) FROM orders o
        |    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |) ORDER BY check_name""".stripMargin)),

    // ---- Gap-fill: hourly per-type event-count series with missing
    // hours filled by carry-forward (a date spine from sequence() +
    // cross join with the type dimension + last(ignoreNulls) window).
    // The spine is generated distributed (explode of sequence), never
    // collected.
    "q_gap_fill" -> QueryDef(
      fn = (spark, dir) => {
        val events = Tables(spark, dir, "events")
        val hourly = events
          .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val bounds = events.agg(
          date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        val spine = bounds.select(
          explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("h"))
        val types = events.select(col("event_type")).distinct()
        val filled = spine.crossJoin(types)
          .join(hourly, Seq("h", "event_type"), "left")
        val w = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        filled.select(
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          last(col("n"), ignoreNulls = true).over(w).as("carry_forward"))
          .orderBy("hour", "event_type")
      },
      oracle = Some("""
        |WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT date_trunc('hour', MIN(ts)) AS lo,
        |         date_trunc('hour', MAX(ts)) AS hi FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM events),
        |filled AS (
        |  SELECT s.h, t.event_type, hr.n
        |  FROM spine s CROSS JOIN types t
        |  LEFT JOIN hourly hr ON hr.h = s.h AND hr.event_type = t.event_type)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  COALESCE(n, 0) AS n_events,
        |  LAST_VALUE(n IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
        |    ROWS UNBOUNDED PRECEDING) AS carry_forward
        |FROM filled ORDER BY hour, event_type""".stripMargin)),

    // ---- Full rank-family analytics in one window pass.
    "q_window_analytics" -> QueryDef(
      fn = (spark, dir) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables(spark, dir, "orders")
          .filter(col("o_custkey") < 100)
          .select(
            col("o_orderkey"), col("o_orderpriority"),
            rank().over(w).cast("long").as("rnk"),
            dense_rank().over(w).cast("long").as("drnk"),
            ntile(4).over(w).cast("long").as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"),
            nth_value(col("o_orderkey"), 2).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("second_key"))
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        |SELECT o_orderkey, o_orderpriority,
        |  CAST(RANK() OVER w AS BIGINT) AS rnk,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume,
        |  NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS second_key
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // ---- Correlated scalar subquery: Catalyst decorrelates it into a
    // left outer aggregate join (no per-row subquery execution).
    "q_correlated_subquery" -> QueryDef(
      fn = (spark, dir) => {
        Tables(spark, dir, "orders").createOrReplaceTempView("orders_cs")
        Tables(spark, dir, "lineitem").createOrReplaceTempView("lineitem_cs")
        spark.sql("""
          SELECT o_orderkey,
                 (SELECT MAX(l_extendedprice) FROM lineitem_cs
                  WHERE l_orderkey = o_orderkey) AS max_line_price
          FROM orders_cs
          ORDER BY o_orderkey""")
      },
      oracle = Some("""
        |SELECT o_orderkey,
        |  (SELECT MAX(l_extendedprice) FROM lineitem
        |   WHERE l_orderkey = o_orderkey) AS max_line_price
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- Vocabulary statistics: token explode (generator) + count —
    // the corpus-level view a tokenizer-training step needs. Top 50 by
    // (count desc, token) for a deterministic slice.
    "q_vocab_stats" -> QueryDef(
      fn = (spark, dir) => Tables(spark, dir, "documents")
        .select(explode(graft.ext.TextFunctions.wsTokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .select(col("token"), col("n"),
          length(col("token")).cast("long").as("token_len"))
        .orderBy(col("n").desc, col("token"))
        .limit(50),
      oracle = Some("""
        |SELECT token, COUNT(*) AS n,
        |  CAST(length(token) AS BIGINT) AS token_len
        |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS token
        |      FROM documents)
        |WHERE token != ''
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin)),

    // ---- Value-RANGE window frame: per-customer rolling 7-day order
    // stats — the frame is bounded by the ORDER-BY VALUE (epoch
    // seconds), not a row count, so same-timestamp ties are all
    // included and sparse histories window correctly. The rows-frame
    // variants are covered by q_running_order_total.
    "q_rolling_7day" -> QueryDef(
      fn = (spark, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("epoch_s"))
          .rangeBetween(-7L * 86400, 0)
        Tables(spark, dir, "orders")
          .filter(col("o_custkey") < 50)
          .withColumn("epoch_s", unix_timestamp(col("o_orderdate")))
          .select(
            col("o_orderkey"), col("o_custkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            count(lit(1)).over(w).as("n_7day"),
            sum(col("o_totalprice").cast("decimal(12,2)")).over(w)
              .cast("double").as("sum_7day"))
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        |SELECT o_orderkey, o_custkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  COUNT(*) OVER w AS n_7day,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS VARCHAR) AS DOUBLE) AS sum_7day
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin)),

    // ---- ROLLING DISTINCT COUNT (the WAU/MAU curve), served by the
    // [[graft.ops.RollingDistinct]] operator: customers with
    // >= 1 order in the trailing 28 days, for EVERY day of the span.
    // No engine evaluates COUNT(DISTINCT) over a sliding frame
    // scalably — the naive fan-out replicates each active day W times
    // (and a per-day correlated subquery is |days|x|orders|). The
    // scale formulation here is interval coverage: a customer covers
    // day d iff their LAST active day on-or-before d is within W-1
    // days, so per (cust, active-day) the covered days form the
    // interval [day, min(day+W-1, next_active-1)] — disjoint per
    // customer BY CONSTRUCTION (next interval starts at next_active),
    // so membership needs no second dedup and the interval stream is
    // O(distinct pairs) REGARDLESS of window length (a 365-day MAU
    // costs the same as 7-day). Intervals then become +-1 endpoint
    // events -> per-day rollup with map-side partials -> prefix sum
    // over the BOUNDED date dimension (the q_sweepline_concurrency
    // two-level shape; the only sequential step). Exchanges: the pair
    // distinct + the per-cust lead window share ONE shuffle on cust?
    // No — distinct shuffles on (cust, day), lead on cust: two
    // corpus-sized exchanges total, then day-sized frames. Integer
    // counts end-to-end => hash-exact. Oracle = the W-times fan-out
    // brute force, an INDEPENDENT construction (coverage-by-
    // replication vs coverage-by-interval), so the hash gate is the
    // disjointness proof.
    "q_rolling_wau" -> QueryDef(
      fn = (spark, dir) => {
        graft.ops.RollingDistinct.activeCount(
            Tables(spark, dir, "orders"),
            key = col("o_custkey"), day = to_date(col("o_orderdate")),
            window = 28)
          .select(col("d"), col("active").as("active_28d"))
          .orderBy("d")
      },
      oracle = Some("""
        |WITH pairs AS (
        |  SELECT DISTINCT o_custkey AS cust,
        |    CAST(o_orderdate AS DATE) AS day
        |  FROM orders),
        |cover AS (
        |  SELECT DISTINCT cust, day + CAST(g.i AS INTEGER) AS d
        |  FROM pairs, (SELECT unnest(generate_series(0, 27)) AS i) g),
        |per_day AS (SELECT d, COUNT(*) AS n FROM cover GROUP BY d),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(
        |    (SELECT MIN(day) FROM pairs),
        |    (SELECT MAX(day) FROM pairs), INTERVAL 1 DAY)) AS DATE) AS d)
        |SELECT s.d, CAST(COALESCE(p.n, 0) AS BIGINT) AS active_28d
        |FROM spine s LEFT JOIN per_day p ON s.d = p.d
        |ORDER BY s.d""".stripMargin),
      bench = true),

    // ---- TABLE CHECKSUM: order-independent per-table fingerprint —
    // bit_xor over a 60-bit cross-engine row hash (md5 hex prefix,
    // the q_kmv_distinct construction) plus the row count. This is
    // the cheap first pass of the reconcile story: at 100 TB two
    // snapshots compare WITHOUT moving data (each side reduces to one
    // row per table, embarrassingly parallel, no shuffle at all —
    // XOR's commutativity is what buys partition-order independence),
    // and only on checksum mismatch does the row-level co-partitioned
    // diff (q_reconcile) run. Doubles are deliberately excluded from
    // the hashed columns: float-to-string formatting is the one piece
    // the two engines don't share.
    "q_table_checksum" -> QueryDef(
      fn = (spark, dir) => {
        def ck(name: String, df: DataFrame, cols: Seq[Column]) = df
          .select(conv(md5(concat_ws("|", cols: _*)).substr(1, 15), 16, 10)
            .cast("long").as("h"))
          .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("xor60"))
          .select(lit(name).as("table_name"), col("n_rows"), col("xor60"))
        ck("customer", Tables(spark, dir, "customer"),
            Seq(col("c_custkey"), col("c_name"), col("c_nationkey"),
              col("c_mktsegment")))
          .unionByName(ck("nation", Tables(spark, dir, "nation"),
            Seq(col("n_nationkey"), col("n_name"), col("n_regionkey"))))
          .unionByName(ck("orders", Tables(spark, dir, "orders"),
            Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
              date_format(col("o_orderdate"), "yyyy-MM-dd"),
              col("o_orderpriority"))))
          .orderBy("table_name")
      },
      oracle = Some("""
        |SELECT 'customer' AS table_name, COUNT(*) AS n_rows,
        |  bit_xor(CAST('0x' || substr(md5(concat_ws('|',
        |    c_custkey, c_name, c_nationkey, c_mktsegment)), 1, 15)
        |    AS BIGINT)) AS xor60
        |FROM customer
        |UNION ALL
        |SELECT 'nation', COUNT(*),
        |  bit_xor(CAST('0x' || substr(md5(concat_ws('|',
        |    n_nationkey, n_name, n_regionkey)), 1, 15) AS BIGINT))
        |FROM nation
        |UNION ALL
        |SELECT 'orders', COUNT(*),
        |  bit_xor(CAST('0x' || substr(md5(concat_ws('|',
        |    o_orderkey, o_custkey, o_orderstatus,
        |    strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)), 1, 15)
        |    AS BIGINT))
        |FROM orders
        |ORDER BY table_name""".stripMargin)),

    // ---- CHECKSUM DELTA MAINTENANCE: the incremental half of the
    // q_table_checksum story. Because the fingerprint is an XOR fold,
    // checksum(base ∪ delta) = xor(checksum(base), checksum(delta)) —
    // so a snapshot's fingerprint is maintainable from per-batch
    // fingerprints without ever rescanning history (and a removal is
    // the same XOR, since x ^ x = 0). This query computes base
    // (orders before the cut date), delta (after) and the full table
    // INDEPENDENTLY, then checks the identity in-engine; the oracle
    // replays all three scans and the identity, so the hash gate
    // proves both engines implement the same XOR algebra over
    // disjoint partitions of the data.
    "q_checksum_delta" -> QueryDef(
      fn = (spark, dir) => {
        val h = conv(md5(concat_ws("|", col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), date_format(col("o_orderdate"), "yyyy-MM-dd"),
          col("o_orderpriority"))).substr(1, 15), 16, 10).cast("long")
        val o = Tables(spark, dir, "orders").withColumn("h", h)
        def ck(df: DataFrame, n: String, x: String) =
          df.agg(count(lit(1)).as(n), expr("bit_xor(h)").as(x))
        val cut = lit("1997-01-01 00:00:00")
        ck(o.filter(col("o_orderdate") < cut), "n_base", "xor_base")
          .crossJoin(ck(o.filter(col("o_orderdate") >= cut),
            "n_delta", "xor_delta"))
          .crossJoin(ck(o, "n_full", "xor_full"))
          .withColumn("xor_identity",
            col("xor_base").bitwiseXOR(col("xor_delta")))
          .withColumn("identity_holds",
            (col("xor_identity") === col("xor_full")).cast("int"))
      },
      oracle = Some("""
        |WITH h AS (
        |  SELECT o_orderdate, CAST('0x' || substr(md5(concat_ws('|',
        |    o_orderkey, o_custkey, o_orderstatus,
        |    strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)), 1, 15)
        |    AS BIGINT) AS h
        |  FROM orders),
        |b AS (SELECT COUNT(*) AS n_base, bit_xor(h) AS xor_base FROM h
        |      WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
        |d AS (SELECT COUNT(*) AS n_delta, bit_xor(h) AS xor_delta FROM h
        |      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'),
        |f AS (SELECT COUNT(*) AS n_full, bit_xor(h) AS xor_full FROM h)
        |SELECT n_base, xor_base, n_delta, xor_delta, n_full, xor_full,
        |  xor(xor_base, xor_delta) AS xor_identity,
        |  CAST(xor(xor_base, xor_delta) = xor_full AS INT) AS identity_holds
        |FROM b, d, f""".stripMargin)),

    // ---- RFM SEGMENTATION: the classic customer-curation bucketing
    // (recency / frequency / monetary), quartiled WITHIN market
    // segment. Two deliberate scale choices: (1) cutpoints come from
    // exact rank selection partitioned by segment — the same
    // oracle-replayable trick as q_iqr_outliers, and never a global
    // single-partition ntile; at 100 TB the rank pass swaps for
    // approx_percentile without touching the bucket join, because the
    // interface between the passes is just (segment, 3 cutpoints).
    // (2) buckets are VALUE comparisons against the broadcast cutpoint
    // frame (<= 5 segments x 9 values), not per-row rank assignment —
    // deterministic under ties, codegen'd, and join-free beyond one
    // broadcast. Monetary stays DECIMAL through the comparison and
    // only the output column degrades to double (VARCHAR-routed in the
    // oracle — the house exact-sum convention).
    "q_rfm_segments" -> QueryDef(
      fn = (spark, dir) => {
        val orders = Tables(spark, dir, "orders")
        val cust = Tables(spark, dir, "customer")
          .select("c_custkey", "c_mktsegment")
        val ref = orders.agg(max(col("o_orderdate")).as("ref_date"))
        // one row per customer; read by three rank passes + the final
        // bucket join => persist, swap-released across invocations
        val rfm = graft.ops.BuildOnce.swapPersist(lastRfm,
          orders.groupBy("o_custkey").agg(
              max(col("o_orderdate")).as("last_order"),
              count(lit(1)).as("frequency"),
              sum(col("o_totalprice").cast("decimal(12,2)")).as("monetary"))
            .join(cust, col("o_custkey") === col("c_custkey"))
            .crossJoin(broadcast(ref))
            .select(col("c_custkey").as("custkey"),
              col("c_mktsegment").as("segment"),
              datediff(col("ref_date"), col("last_order")).as("recency_days"),
              col("frequency"), col("monetary")))
        def cutpoints(valCol: String, pfx: String) = {
          val bySeg = Window.partitionBy(col("segment"))
          val ranked = rfm
            .withColumn("rn", row_number().over(
              bySeg.orderBy(col(valCol), col("custkey"))))
            .withColumn("n", count(lit(1)).over(bySeg))
          ranked
            .filter(col("rn") === expr("(n-1) div 4 + 1") ||
              col("rn") === expr("(2*(n-1)) div 4 + 1") ||
              col("rn") === expr("(3*(n-1)) div 4 + 1"))
            .groupBy("segment")
            .agg(
              min(when(col("rn") === expr("(n-1) div 4 + 1"), col(valCol)))
                .as(s"${pfx}1"),
              min(when(col("rn") === expr("(2*(n-1)) div 4 + 1"), col(valCol)))
                .as(s"${pfx}2"),
              min(when(col("rn") === expr("(3*(n-1)) div 4 + 1"), col(valCol)))
                .as(s"${pfx}3"))
        }
        val cuts = cutpoints("recency_days", "r")
          .join(cutpoints("frequency", "f"), "segment")
          .join(cutpoints("monetary", "m"), "segment")
        def bucket(v: Column, q1: Column, q2: Column, q3: Column): Column =
          lit(1) + (v > q1).cast("int") + (v > q2).cast("int") +
            (v > q3).cast("int")
        val rB = bucket(col("recency_days"), col("r1"), col("r2"), col("r3"))
        val fB = bucket(col("frequency"), col("f1"), col("f2"), col("f3"))
        val mB = bucket(col("monetary"), col("m1"), col("m2"), col("m3"))
        rfm.join(broadcast(cuts), "segment")
          .select(col("custkey"), col("segment"), col("recency_days"),
            col("frequency"),
            col("monetary").cast("double").as("monetary"),
            rB.as("r_bucket"), fB.as("f_bucket"), mB.as("m_bucket"),
            (rB * 100 + fB * 10 + mB).as("rfm"))
          .orderBy("custkey")
      },
      oracle = Some("""
        |WITH ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders),
        |rfm AS (
        |  SELECT o.o_custkey AS custkey, c.c_mktsegment AS segment,
        |    CAST(date_diff('day', CAST(MAX(o.o_orderdate) AS DATE),
        |      CAST((SELECT ref_date FROM ref) AS DATE)) AS INT) AS recency_days,
        |    COUNT(*) AS frequency,
        |    SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS monetary
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |rrank AS (SELECT segment, recency_days AS v, custkey,
        |    ROW_NUMBER() OVER (PARTITION BY segment ORDER BY recency_days, custkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY segment) AS n FROM rfm),
        |rcut AS (SELECT segment,
        |    MIN(CASE WHEN rn = (n-1)//4 + 1 THEN v END) AS r1,
        |    MIN(CASE WHEN rn = (2*(n-1))//4 + 1 THEN v END) AS r2,
        |    MIN(CASE WHEN rn = (3*(n-1))//4 + 1 THEN v END) AS r3
        |  FROM rrank GROUP BY segment),
        |frank AS (SELECT segment, frequency AS v, custkey,
        |    ROW_NUMBER() OVER (PARTITION BY segment ORDER BY frequency, custkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY segment) AS n FROM rfm),
        |fcut AS (SELECT segment,
        |    MIN(CASE WHEN rn = (n-1)//4 + 1 THEN v END) AS f1,
        |    MIN(CASE WHEN rn = (2*(n-1))//4 + 1 THEN v END) AS f2,
        |    MIN(CASE WHEN rn = (3*(n-1))//4 + 1 THEN v END) AS f3
        |  FROM frank GROUP BY segment),
        |mrank AS (SELECT segment, monetary AS v, custkey,
        |    ROW_NUMBER() OVER (PARTITION BY segment ORDER BY monetary, custkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY segment) AS n FROM rfm),
        |mcut AS (SELECT segment,
        |    MIN(CASE WHEN rn = (n-1)//4 + 1 THEN v END) AS m1,
        |    MIN(CASE WHEN rn = (2*(n-1))//4 + 1 THEN v END) AS m2,
        |    MIN(CASE WHEN rn = (3*(n-1))//4 + 1 THEN v END) AS m3
        |  FROM mrank GROUP BY segment),
        |bucketed AS (
        |  SELECT r.custkey, r.segment, r.recency_days, r.frequency,
        |    CAST(CAST(r.monetary AS VARCHAR) AS DOUBLE) AS monetary,
        |    1 + CAST(r.recency_days > rc.r1 AS INT)
        |      + CAST(r.recency_days > rc.r2 AS INT)
        |      + CAST(r.recency_days > rc.r3 AS INT) AS r_bucket,
        |    1 + CAST(r.frequency > fc.f1 AS INT)
        |      + CAST(r.frequency > fc.f2 AS INT)
        |      + CAST(r.frequency > fc.f3 AS INT) AS f_bucket,
        |    1 + CAST(r.monetary > mc.m1 AS INT)
        |      + CAST(r.monetary > mc.m2 AS INT)
        |      + CAST(r.monetary > mc.m3 AS INT) AS m_bucket
        |  FROM rfm r
        |  JOIN rcut rc ON r.segment = rc.segment
        |  JOIN fcut fc ON r.segment = fc.segment
        |  JOIN mcut mc ON r.segment = mc.segment)
        |SELECT custkey, segment, recency_days, frequency, monetary,
        |  r_bucket, f_bucket, m_bucket,
        |  r_bucket * 100 + f_bucket * 10 + m_bucket AS rfm
        |FROM bucketed
        |ORDER BY custkey""".stripMargin)),

    // ---- BENFORD FIRST-DIGIT AUDIT — the forensic data-quality
    // check for "does this monetary column look organically
    // generated": natural multiplicative data follows
    // P(d) = log10(1+1/d); fabricated, capped, or uniformly-synthetic
    // data does not. Complements q_dq_report (nulls/ranges/keys) with
    // a DISTRIBUTIONAL audit. Exactness: the first significant digit
    // is the first character of the integer cents rendered as a
    // string (pure integer → identical on both engines; no log10 at
    // query time — the Benford expectations are fixed integer
    // literals in 1e5 basis points, summing to exactly 100000), and
    // shares use the `div` convention. The TPC-H-ish fixture is
    // uniform-priced, so the audit correctly REPORTS a large
    // deviation — a failing-audit fixture is the honest one here.
    // Scale shape: one pruned scan → 9-group map-side-combined
    // rollup → broadcast total; nothing row-scale crosses the wire.
    "q_benford" -> QueryDef(
      fn = (spark, dir) => {
        val expected = Seq(30103L, 17609L, 12494L, 9691L, 7918L,
          6695L, 5799L, 5115L, 4576L)
        val expDf = spark.createDataFrame(
          expected.zipWithIndex.map { case (e, i) => (i + 1L, e) })
          .toDF("digit", "expected_bp5")
        val o = Tables(spark, dir, "orders")
          .select(substring(floor(col("o_totalprice") * 100 + 0.5)
            .cast("long").cast("string"), 1, 1).cast("long").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
        val tot = o.agg(sum(col("n")).as("total"))
        // exp side preserved (every digit 1..9 emits a row even at
        // zero observations); both non-fact frames are 9/1 rows
        expDf.join(o, Seq("digit"), "left")
          .withColumn("n", coalesce(col("n"), lit(0L)))
          .crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            expr("n * 100000 div total").as("share_bp5"),
            col("expected_bp5"),
            expr("n * 100000 div total - expected_bp5")
              .as("deviation_bp5"))
          .orderBy("digit")
      },
      oracle = Some("""
        |WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
        |e(digit, expected_bp5) AS (VALUES
        |  (1, 30103), (2, 17609), (3, 12494), (4, 9691), (5, 7918),
        |  (6, 6695), (7, 5799), (8, 5115), (9, 4576)),
        |t AS (SELECT SUM(n) AS total FROM g)
        |SELECT CAST(e.digit AS BIGINT) AS digit,
        |  CAST(COALESCE(g.n, 0) AS BIGINT) AS n,
        |  CAST(COALESCE(g.n, 0) * 100000 // total AS BIGINT)
        |    AS share_bp5,
        |  CAST(e.expected_bp5 AS BIGINT) AS expected_bp5,
        |  CAST(COALESCE(g.n, 0) * 100000 // total - e.expected_bp5
        |    AS BIGINT) AS deviation_bp5
        |FROM e LEFT JOIN g ON e.digit = g.digit CROSS JOIN t
        |ORDER BY e.digit""".stripMargin)),

    // ---- LEAVE-ONE-OUT TARGET ENCODING — the categorical-feature
    // prep an ML pipeline runs before training on tabular data:
    // replace a category with the mean of the target over OTHER rows
    // of the same category (LOO kills the self-leakage that plain
    // mean encoding injects — the row's own target never contributes
    // to its own feature, the same leakage discipline q_leakage_split
    // enforces at the split level), plus the m-estimate smoothed
    // variant ((g_sum + m·prior) / (g_cnt + m), m=20) that shrinks
    // rare categories toward the global prior instead of memorizing
    // them. Exactness: target in integer cents (the floor(x·100+0.5)
    // row convention), group sums in DECIMAL(38,0) (wrap-proof past
    // Long at ~40× scale — the q_gini_spend discipline), encodings
    // emitted under the `div` integer-division convention; the
    // singleton-category LOO (undefined: no other rows) falls back to
    // the global prior, stated here and mirrored in the oracle.
    // Scale shape: ONE scan feeds the category rollup (map-side
    // combined, |categories| rows) and the single-row global total;
    // both broadcast back onto the unshuffled fact stream — no
    // fact-sized shuffle at any cardinality. A high-cardinality
    // category would swap the broadcast for a shuffled equi-join on
    // the category key; the arithmetic is unchanged.
    "q_target_encoding" -> QueryDef(
      fn = (spark, dir) => {
        val o = Tables(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long")
              .as("cents"))
        val g = o.groupBy("o_orderpriority")
          .agg(sum(col("cents")).cast("decimal(38,0)").as("g_sum"),
            count(lit(1)).as("g_cnt"))
        val tot = o.agg(sum(col("cents")).cast("decimal(38,0)")
            .as("t_sum"), count(lit(1)).as("t_cnt"))
        o.join(broadcast(g), Seq("o_orderpriority"))
          .crossJoin(broadcast(tot))
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("cents"),
            expr("case when g_cnt = 1 then t_sum div t_cnt" +
              " else (g_sum - cents) div (g_cnt - 1) end")
              .as("loo_mean_cents"),
            expr("(g_sum + 20 * (t_sum div t_cnt)) div (g_cnt + 20)")
              .as("smooth_mean_cents"))
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        |WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |g AS (
        |  SELECT o_orderpriority, SUM(CAST(cents AS HUGEINT)) AS g_sum,
        |    COUNT(*) AS g_cnt
        |  FROM o GROUP BY 1),
        |t AS (
        |  SELECT SUM(CAST(cents AS HUGEINT)) AS t_sum, COUNT(*) AS t_cnt
        |  FROM o)
        |SELECT o.o_orderkey, o.o_orderpriority, o.cents,
        |  CAST(CASE WHEN g_cnt = 1 THEN t_sum // t_cnt
        |    ELSE (g_sum - cents) // (g_cnt - 1) END AS BIGINT)
        |    AS loo_mean_cents,
        |  CAST((g_sum + 20 * (t_sum // t_cnt)) // (g_cnt + 20) AS BIGINT)
        |    AS smooth_mean_cents
        |FROM o JOIN g USING (o_orderpriority) CROSS JOIN t
        |ORDER BY o_orderkey""".stripMargin))
  )
}
