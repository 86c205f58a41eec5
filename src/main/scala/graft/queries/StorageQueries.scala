package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryModule, Tables}
import graft.ops.{BuildOnce, DeleteLedger, Layout, ScaleJoins, ZoneMap}

/** Storage-layer operators end-to-end: file-level zone-map pruning,
  * merge-on-read delete ledgers, and bloom semi-join reduction. Each
  * query's oracle replays the PLAIN relational semantics over the raw
  * tables, so the hash gate proves the storage machinery (pruned file
  * lists, ledger reconciliation, bloom pre-filters) loses and invents
  * nothing — the same losslessness-proof shape as the served-index
  * queries.
  */
object StorageQueries extends QueryModule {

  /** Range-layout the events table by `user_id` and build its zone
    * map — the write-once artifact every pruned read probes. The
    * layout keeps the query's columns only (the ts column's
    * nanos-vs-micros parquet round trip is [[Tables]]' concern, not
    * this demo's). */
  private[graft] def zoneMapFor(spark: SparkSession, dir: String): String =
    BuildOnce.dir("zonemap", spark, Tables.paths(dir, "events")) { base =>
      val events = Tables(spark, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      Layout.writeRangeLayout(events, s"$base/data", 8, "user_id")
      ZoneMap.write(spark, s"$base/data", s"$base/zm", Seq("user_id"))
    }

  /** Documents table behind a delete ledger: two delete batches (one
    * replayed, proving idempotency on the query path itself), never
    * compacted here — the query reads through the reconcile
    * anti-join. DeleteLedgerSpec owns compaction/crash schedules. */
  private[graft] def deleteTableFor(spark: SparkSession, dir: String): String =
    BuildOnce.dir("delete_ledger", spark,
        Tables.paths(dir, "documents")) { base =>
      val docs = Tables(spark, dir, "documents")
      DeleteLedger.create(spark, base, docs)
      val b1 = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
      DeleteLedger.delete(spark, base, b1, "b1")
      DeleteLedger.delete(spark, base,
        docs.filter(col("doc_id") % 11 === 5).select("doc_id"), "b2")
      // retried batch: dynamic overwrite of its own partition, no dups
      DeleteLedger.delete(spark, base, b1, "b1")
    }

  /** Z-order-layout the orders table on (o_custkey, whole dollars)
    * and build a two-column zone map — the 2-D box-query artifact.
    * bits=30 keeps the interleave in range through the sf10 replica
    * (ScaleUp offsets custkeys to ~990M < 2^30; the interleave tops
    * out at bit 61 < a long); zOrder raise_errored on the first
    * bits=24 attempt at sf10 instead of silently scrambling the
    * layout — the guard working as designed. */
  private[graft] def zorderFor(spark: SparkSession, dir: String): String =
    BuildOnce.dir("zorder", spark, Tables.paths(dir, "orders")) { base =>
      val orders = Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice")).cast("long").as("dollars"))
      Layout.writeZOrderLayout(orders, s"$base/data", 16,
        "o_custkey", "dollars", bits = 30)
      ZoneMap.write(spark, s"$base/data", s"$base/zm",
        Seq("o_custkey", "dollars"))
    }

  /** Events slice behind a DeleteLedger with a DECLARED range layout:
    * a sparse delete batch is folded by a SHUFFLE-regime compaction
    * (maxBroadcast=0 — the regime any 100 TB ledger lands in, and the
    * one whose hash partitioning destroys an undeclared layout), then
    * the zone map is built over the compacted version. The artifact
    * `q_zonemap_compacted` reads — proving pruning survives the
    * maintenance cycle end-to-end. */
  private[graft] def compactedTableFor(spark: SparkSession, dir: String): String =
    BuildOnce.dir("zm_compacted", spark, Tables.paths(dir, "events")) { base =>
      val events = Tables(spark, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      DeleteLedger.create(spark, base, events,
        Some(Layout.RangeSpec(8, Seq("user_id"))))
      DeleteLedger.delete(spark, base,
        events.filter(col("event_id") % 17 === 4).select("event_id"), "b1")
      DeleteLedger.compact(spark, base, "event_id", maxBroadcast = 0L)
      ZoneMap.write(spark, DeleteLedger.dataDir(base), s"$base/zm",
        Seq("user_id"))
    }

  /** Events slice behind a LIVE DeleteLedger (deletes still in the
    * ledger, nothing compacted), range-layouted v0 with its zone map
    * — the artifact `q_zonemap_live` reads through ZoneMapRule: the
    * pruning rule must fire on the data-side scan UNDER the
    * reconcile anti-join, so compliance-deleted tables keep file
    * skipping. */
  private[graft] def liveTableFor(spark: SparkSession, dir: String): String =
    BuildOnce.dir("zm_live", spark, Tables.paths(dir, "events")) { base =>
      val events = Tables(spark, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      DeleteLedger.create(spark, base, events,
        Some(Layout.RangeSpec(8, Seq("user_id"))))
      DeleteLedger.delete(spark, base,
        events.filter(col("event_id") % 13 === 2).select("event_id"), "b1")
      ZoneMap.write(spark, DeleteLedger.dataDir(base), s"$base/zm",
        Seq("user_id"))
    }

  /** Events slice with a DERIVED NULLABLE column — `v` is null for
    * the user_id < 3 population (the "cohort never instrumented"
    * shape), real elsewhere. Range layout on user_id makes the nulls
    * FILE-LOCALIZED (low-user files all-null v, high-user files
    * no-null, one boundary file mixed), so the catalog's non-null
    * counts can actually prune a null probe: IS NULL keeps only the
    * files containing a null. The artifact `q_zonemap_nulls` reads
    * through ZoneMapRule. */
  private[graft] def nullsTableFor(spark: SparkSession, dir: String): String =
    BuildOnce.dir("zm_nulls", spark, Tables.paths(dir, "events")) { base =>
      val events = Tables(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          when(col("user_id") < 3L, lit(null).cast("double"))
            .otherwise(col("value")).as("v"))
      Layout.writeRangeLayout(events, s"$base/data", 8, "user_id")
      ZoneMap.write(spark, s"$base/data", s"$base/zm", Seq("user_id", "v"))
    }

  /** Documents table behind a MUTATION window: upsert batch seq=1
    * bumps n_chars by 1000 for doc_id % 5 == 0, seq=2 re-bumps the
    * % 10 == 0 subset by 2000 (latest seq must win), and a delete
    * batch erases doc_id % 7 == 3 (deletes beat upserts —
    * compliance-first). Nothing compacted: `q_upsert_ledger` reads
    * through the full three-way reconcile. */
  private[graft] def upsertTableFor(spark: SparkSession, dir: String): String =
    BuildOnce.dir("upsert_ledger", spark,
        Tables.paths(dir, "documents")) { base =>
      val docs = Tables(spark, dir, "documents")
      DeleteLedger.create(spark, base, docs)
      DeleteLedger.upsert(spark, base,
        docs.filter(col("doc_id") % 5 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L),
        "doc_id", "u1", seq = 1L)
      DeleteLedger.upsert(spark, base,
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + 2000L),
        "doc_id", "u2", seq = 2L)
      DeleteLedger.delete(spark, base,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"), "d1")
    }

  /** Documents table with a COMPACTION BOUNDARY in its history:
    * v0 = full corpus; b1 deletes folded into v1 by a compact; b2
    * still in the ledger. Gives `q_version_diff` real version dirs +
    * a live ledger to derive its change feed from. */
  private[graft] def cdfTableFor(spark: SparkSession, dir: String): String =
    BuildOnce.dir("cdf_table", spark, Tables.paths(dir, "documents")) { base =>
      val docs = Tables(spark, dir, "documents")
      DeleteLedger.create(spark, base, docs)
      DeleteLedger.delete(spark, base,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"), "b1")
      DeleteLedger.compact(spark, base, "doc_id") // v1: b1 folded in
      DeleteLedger.delete(spark, base,
        docs.filter(col("doc_id") % 11 === 5).select("doc_id"), "b2")
    }

  def defs: Seq[(String, QueryDef)] = Seq(

    // ---- 2-D BOX query over a Z-order layout + two-column zone map
    // (ZoneMap.pruneBox): a file survives only when BOTH dimensions'
    // ranges intersect its min/max — the read shape Z-order exists
    // for (a range-by-A layout prunes nothing on a B filter; the
    // interleave gives both dimensions partial locality, so the box
    // touches ~the product of the per-dimension file fractions).
    // Residual conjunction re-applies, so the oracle is the plain
    // two-predicate filter over raw orders. Spec asserts the box
    // prunes harder than either single dimension.
    "q_zorder_box" -> QueryDef(
      fn = (spark, dir) => {
        val base = zorderFor(spark, dir)
        // statsDir form: the survival test serves from the driver-side
        // catalog snapshot (no per-query store re-read)
        ZoneMap.pruneBox(spark, s"$base/data", s"$base/zm", Seq(
            ("o_custkey", lit(100L), lit(199L)),
            ("dollars", lit(200000L), lit(299999L))))
          .withColumn("__h60",
            conv(md5(col("o_orderkey").cast("string")).substr(1, 15), 16, 10)
              .cast("long"))
          .agg(count(lit(1)).as("n_orders"),
            expr("bit_xor(__h60)").as("ids_xor60"),
            min(col("o_custkey")).as("min_cust"),
            max(col("o_custkey")).as("max_cust"),
            min(col("dollars")).as("min_dollars"),
            max(col("dollars")).as("max_dollars"))
      },
      oracle = Some("""
        |SELECT COUNT(*) AS n_orders,
        |  bit_xor(CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
        |    AS BIGINT)) AS ids_xor60,
        |  MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
        |  MIN(CAST(FLOOR(o_totalprice) AS BIGINT)) AS min_dollars,
        |  MAX(CAST(FLOOR(o_totalprice) AS BIGINT)) AS max_dollars
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 199
        |  AND CAST(FLOOR(o_totalprice) AS BIGINT)
        |      BETWEEN 200000 AND 299999""".stripMargin),
      bench = true),

    // ---- Change-data-feed over DeleteLedger versions: the diff is
    // DERIVED FROM THE STORAGE ARTIFACTS (readVersion(0/1) + the
    // live merge-on-read view + one ledger-sized anti-join), while
    // the oracle replays the logical delete predicates over the raw
    // table — a hash match proves version history, compaction, and
    // the live reconcile all agree with the logical timeline. Scale
    // shape: three scans + one anti-join whose right side is
    // ledger-sized; rollups are registry-sized and broadcast-joined.
    "q_version_diff" -> QueryDef(
      fn = (spark, dir) => {
        val base = cdfTableFor(spark, dir)
        val v0 = DeleteLedger.readVersion(spark, base, 0)
        val v1 = DeleteLedger.readVersion(spark, base, 1)
        val live = DeleteLedger.read(spark, base, "doc_id")
        def per(df: org.apache.spark.sql.DataFrame, n: String) =
          df.groupBy("source").agg(count(lit(1)).as(n))
        val removed = v1.join(live.select("doc_id"), Seq("doc_id"), "left_anti")
          .withColumn("__h60",
            conv(md5(col("doc_id").cast("string")).substr(1, 15), 16, 10)
              .cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_removed_since_v1"),
            expr("bit_xor(__h60)").as("removed_xor60"))
        per(v0, "n_v0")
          .join(broadcast(per(v1, "n_v1")), Seq("source"))
          .join(broadcast(per(live, "n_live")), Seq("source"))
          .join(broadcast(removed), Seq("source"))
          .orderBy("source")
      },
      oracle = Some("""
        |SELECT source, COUNT(*) AS n_v0,
        |  COUNT(*) FILTER (NOT doc_id % 7 = 3) AS n_v1,
        |  COUNT(*) FILTER (NOT doc_id % 7 = 3 AND NOT doc_id % 11 = 5)
        |    AS n_live,
        |  COUNT(*) FILTER (NOT doc_id % 7 = 3 AND doc_id % 11 = 5)
        |    AS n_removed_since_v1,
        |  bit_xor(CASE WHEN NOT doc_id % 7 = 3 AND doc_id % 11 = 5
        |    THEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) END) AS removed_xor60
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ---- Zone-map pruned range scan (ops/ZoneMap over a
    // Layout.writeRangeLayout table): the file list is pruned from
    // the min/max catalog BEFORE any scan task exists, then the exact
    // predicate re-applies to the survivors — so the result is the
    // plain filter's result whatever the catalog says (the oracle IS
    // the plain filter over the raw table). A fixed user band stays
    // ~constant rows at every SF while the table grows, so the
    // pruned fraction improves with scale — the 100 TB access shape.
    // ZoneMapSpec asserts the pruning ratio; this gate proves
    // losslessness end-to-end.
    "q_zonemap_pruned" -> QueryDef(
      fn = (spark, dir) => {
        val base = zoneMapFor(spark, dir)
        ZoneMap.pruneRange(spark, s"$base/data", s"$base/zm",
          "user_id", lit(3L), lit(7L))
          .withColumn("__h60",
            conv(md5(col("event_id").cast("string")).substr(1, 15), 16, 10)
              .cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            expr("bit_xor(__h60)").as("ids_xor60"),
            min(col("user_id")).as("min_user"),
            max(col("user_id")).as("max_user"))
          .orderBy("event_type")
      },
      oracle = Some("""
        |SELECT event_type, COUNT(*) AS n_events,
        |  bit_xor(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
        |    AS BIGINT)) AS ids_xor60,
        |  MIN(user_id) AS min_user, MAX(user_id) AS max_user
        |FROM events WHERE user_id BETWEEN 3 AND 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
      bench = true),

    // ---- AUTOMATIC zone-map pruning (plans/ZoneMapRule): the same
    // semantics as q_zonemap_pruned, but the user writes a PLAIN
    // read.filter — the optimizer consults the registered catalog and
    // swaps the scan's file index for the survivors, freshness-gated
    // (an un-cataloged append disarms the rule; ZoneMap.update
    // re-arms it — ZoneMapRuleSpec pins both transitions and the
    // pruned file count). The oracle is the plain filter over raw
    // events, identical to q_zonemap_pruned's: serve-transparently,
    // lose nothing.
    "q_zonemap_auto" -> QueryDef(
      fn = (spark, dir) => {
        val base = zoneMapFor(spark, dir)
        graft.plans.ZoneMapRule.install(spark)
        graft.plans.ZoneMapRule.register(spark, s"$base/data", s"$base/zm",
          Seq("user_id"))
        spark.read.parquet(s"$base/data")
          .filter(col("user_id") >= 3L && col("user_id") <= 7L)
          .withColumn("__h60",
            conv(md5(col("event_id").cast("string")).substr(1, 15), 16, 10)
              .cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            expr("bit_xor(__h60)").as("ids_xor60"),
            min(col("user_id")).as("min_user"),
            max(col("user_id")).as("max_user"))
          .orderBy("event_type")
      },
      oracle = Some("""
        |SELECT event_type, COUNT(*) AS n_events,
        |  bit_xor(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
        |    AS BIGINT)) AS ids_xor60,
        |  MIN(user_id) AS min_user, MAX(user_id) AS max_user
        |FROM events WHERE user_id BETWEEN 3 AND 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- LAYOUT-PRESERVING COMPACTION end-to-end: the table's
    // declared range layout routes the compaction rewrite, so the
    // zone map built over the COMPACTED version still prunes (the
    // round-9 gap: a plain compact rewrote versions unclustered and
    // file skipping silently died at the first maintenance cycle).
    // The compaction here runs the SHUFFLE reconcile regime — the
    // one whose hash partitioning scatters an undeclared layout —
    // and the oracle replays the logical delete + filter over raw
    // events, so the hash gate proves the whole maintenance cycle
    // (delete -> shuffle compact -> re-cluster -> zone-map refresh ->
    // pruned read) loses and invents nothing.
    "q_zonemap_compacted" -> QueryDef(
      fn = (spark, dir) => {
        val base = compactedTableFor(spark, dir)
        ZoneMap.pruneRange(spark, DeleteLedger.dataDir(base), s"$base/zm",
          "user_id", lit(3L), lit(7L))
          .withColumn("__h60",
            conv(md5(col("event_id").cast("string")).substr(1, 15), 16, 10)
              .cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            expr("bit_xor(__h60)").as("ids_xor60"),
            min(col("user_id")).as("min_user"),
            max(col("user_id")).as("max_user"))
          .orderBy("event_type")
      },
      oracle = Some("""
        |SELECT event_type, COUNT(*) AS n_events,
        |  bit_xor(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
        |    AS BIGINT)) AS ids_xor60,
        |  MIN(user_id) AS min_user, MAX(user_id) AS max_user
        |FROM events WHERE user_id BETWEEN 3 AND 7
        |  AND NOT event_id % 17 = 4
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
      bench = true),

    // ---- ZoneMapRule x DeleteLedger composition: the user writes a
    // PLAIN DeleteLedger.read(...).filter(range) — Catalyst pushes
    // the range filter below the reconcile anti-join onto the
    // data-side scan, where the registered zone map prunes its file
    // list. Compliance-deleted tables keep file skipping with no
    // pruned-read API call. Oracle = the logical deletes + filter
    // over raw events (ZoneMapRuleSpec pins the plan shape: pruned
    // file index UNDER the anti-join).
    "q_zonemap_live" -> QueryDef(
      fn = (spark, dir) => {
        val base = liveTableFor(spark, dir)
        graft.plans.ZoneMapRule.install(spark)
        graft.plans.ZoneMapRule.register(spark, DeleteLedger.dataDir(base),
          s"$base/zm", Seq("user_id"))
        DeleteLedger.read(spark, base, "event_id")
          .filter(col("user_id") >= 3L && col("user_id") <= 7L)
          .withColumn("__h60",
            conv(md5(col("event_id").cast("string")).substr(1, 15), 16, 10)
              .cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            expr("bit_xor(__h60)").as("ids_xor60"),
            min(col("user_id")).as("min_user"),
            max(col("user_id")).as("max_user"))
          .orderBy("event_type")
      },
      oracle = Some("""
        |SELECT event_type, COUNT(*) AS n_events,
        |  bit_xor(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
        |    AS BIGINT)) AS ids_xor60,
        |  MIN(user_id) AS min_user, MAX(user_id) AS max_user
        |FROM events WHERE user_id BETWEEN 3 AND 7
        |  AND NOT event_id % 13 = 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- NULL-PREDICATE file pruning (ZoneMapRule IsNull/IsNotNull
    // off the catalog's non-null counts): a plain `filter(v IS NULL)`
    // over the registered table keeps only the files that CONTAIN a
    // null (nn_v < n_rows) — the no-null files are skipped before any
    // scan task exists. The residual filter re-applies, so the oracle
    // (the same CASE-derived null over raw events) proves the count
    // pruning loses nothing. The one-sided safety argument is the
    // same as for ranges: the counts can only DROP files that cannot
    // match. (ZoneMapRuleSpec pins the file counts; this gate pins
    // end-to-end losslessness.)
    "q_zonemap_nulls" -> QueryDef(
      fn = (spark, dir) => {
        val base = nullsTableFor(spark, dir)
        graft.plans.ZoneMapRule.install(spark)
        graft.plans.ZoneMapRule.register(spark, s"$base/data", s"$base/zm",
          Seq("user_id", "v"))
        spark.read.parquet(s"$base/data")
          .filter(col("v").isNull)
          .withColumn("__h60",
            conv(md5(col("event_id").cast("string")).substr(1, 15), 16, 10)
              .cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_null_events"),
            expr("bit_xor(__h60)").as("ids_xor60"),
            min(col("user_id")).as("min_user"),
            max(col("user_id")).as("max_user"))
          .orderBy("event_type")
      },
      oracle = Some("""
        |SELECT event_type, COUNT(*) AS n_null_events,
        |  bit_xor(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
        |    AS BIGINT)) AS ids_xor60,
        |  MIN(user_id) AS min_user, MAX(user_id) AS max_user
        |FROM events
        |WHERE (CASE WHEN user_id < 3 THEN NULL ELSE value END) IS NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- Merge-on-read delete ledger (ops/DeleteLedger): documents
    // behind two delete batches (one retried), read through the
    // reconcile anti-join — no data file was rewritten. The oracle
    // applies the same deletes as a plain NOT-filter on the raw
    // table, so the hash gate proves ledger reconciliation ≡ the
    // logical delete. Broadcast-vs-shuffle reconcile regimes are
    // measured-count gated and spec-pinned equal.
    "q_delete_ledger" -> QueryDef(
      fn = (spark, dir) => {
        val base = deleteTableFor(spark, dir)
        DeleteLedger.read(spark, base, "doc_id")
          .withColumn("__h60",
            conv(md5(col("doc_id").cast("string")).substr(1, 15), 16, 10)
              .cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            expr("bit_xor(__h60)").as("ids_xor60"))
          .orderBy("source")
      },
      oracle = Some("""
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |    AS BIGINT)) AS ids_xor60
        |FROM documents
        |WHERE NOT (doc_id % 7 = 3 OR doc_id % 11 = 5)
        |GROUP BY source ORDER BY source""".stripMargin),
      bench = true),

    // ---- Merge-on-read UPSERTS (DeleteLedger.upsert): updates land
    // as batch appends beside the data — no data-file rewrite — and
    // the read reconciles three ways (base minus touched keys, plus
    // winning upsert rows, minus deletes). Window semantics under
    // test: latest seq wins among upserts (the %10 subset carries
    // seq=2's +2000, not seq=1's +1000), and a delete beats every
    // upsert to its key (compliance-first). The oracle replays the
    // whole window as CASE logic over the raw table, so the hash
    // match proves the ledger reconcile ≡ the logical timeline.
    "q_upsert_ledger" -> QueryDef(
      fn = (spark, dir) => {
        val base = upsertTableFor(spark, dir)
        DeleteLedger.read(spark, base, "doc_id")
          .withColumn("__h60",
            conv(md5(concat(col("doc_id").cast("string"), lit(":"),
              col("n_chars").cast("string"))).substr(1, 15), 16, 10)
              .cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            expr("bit_xor(__h60)").as("rows_xor60"))
          .orderBy("source")
      },
      oracle = Some("""
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars_eff) AS BIGINT) AS sum_chars,
        |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
        |    || CAST(n_chars_eff AS VARCHAR)), 1, 15) AS BIGINT))
        |    AS rows_xor60
        |FROM (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 10 = 0 THEN n_chars + 2000
        |         WHEN doc_id % 5 = 0 THEN n_chars + 1000
        |         ELSE n_chars END AS n_chars_eff
        |  FROM documents WHERE NOT doc_id % 7 = 3)
        |GROUP BY source ORDER BY source""".stripMargin),
      bench = true),

    // ---- Bloom-reduced join (ScaleJoins.bloomReducedJoin): lineitem
    // against the selective high-value-orders dim through a bloom
    // pre-filter planted below the fact exchange. False positives are
    // re-verified by the join itself, so the result is the plain
    // join's for ANY sketch size — the oracle is exactly that plain
    // join. l_quantity is integral-valued; the BIGINT cast before the
    // sum keeps the aggregate exact (the strict-dtype discipline).
    "q_bloom_join_reduce" -> QueryDef(
      fn = (spark, dir) => {
        val dim = Tables(spark, dir, "orders")
          .filter(col("o_totalprice") > 470000.0)
          .select("o_orderkey", "o_orderpriority")
        val fact = Tables(spark, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity")
        ScaleJoins.bloomReducedJoin(fact, dim, "l_orderkey", "o_orderkey")
          .withColumn("__h60",
            conv(md5(concat(col("l_orderkey").cast("string"), lit(":"),
              col("l_linenumber").cast("string"))).substr(1, 15), 16, 10)
              .cast("long"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            expr("bit_xor(__h60)").as("ids_xor60"))
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        |SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  bit_xor(CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
        |    || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT)) AS ids_xor60
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 470000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      bench = true),

    // ---- MULTI-FILE SCAN SCALING: the same rollup every star query
    // runs, but over a lineitem replica written as MANY parquet files
    // (ops/Layout range layout, scale-adaptive file count). Every
    // seed fixture is ONE parquet row group, so every fixture scan is
    // ONE task no matter the core count — the bench's core-ratio
    // block cannot distinguish "scan parallelizes" from "driver
    // floor" anywhere else on the surface. This entry is the control:
    // its scan splits into >= session-width tasks, so its 32c/8c
    // ratio moves with cores while the single-row-group twins sit at
    // ~1.0. The oracle replays the identical aggregate over the RAW
    // lineitem — commutative rollup, so the hash gate proves the
    // re-layout loses and invents nothing (the zone-map losslessness
    // shape).
    "q_scan_scaling" -> QueryDef(
      fn = (spark, dir) => {
        val t = graft.ops.Fs.resolvedParquet(spark,
          s"${splitScanFor(spark, dir)}/data")
        // CHAINED md5: a synthetic, exactly-replayable stand-in for
        // real per-row scan-stage CPU (tokenizers, decoders, feature
        // hashing). One round over this frame is ~45 ms serial —
        // under the per-query driver floor, so a one-round version
        // shows NO core signal at bench SF (measured 32c==8c==2c);
        // at ScanScalingMd5Rounds the scan stage dominates and the
        // 32c/8c ratio measures scan parallelism, which is this
        // control's entire purpose. Both engines chain the same
        // lowercase-hex md5, so the rollup stays hash-checkable.
        val h0 = md5(concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string")))
        val hN = (1 until ScanScalingMd5Rounds).foldLeft(h0)((c, _) => md5(c))
        // the hash is part of the GROUPING key (an 8-way bucket), not
        // only an aggregate input: the bench's timed action is a
        // count(), under which a hash feeding only aggregates gets
        // column-pruned away (guide §1.4) — measured: the whole md5
        // chain disappeared and 32c == 8c == 2c. As a key it must be
        // computed for every row under ANY action.
        t.withColumn("__h60",
            conv(hN.substr(1, 15), 16, 10).cast("long"))
          .groupBy(col("l_returnflag"),
            pmod(col("__h60"), lit(8L)).as("h_bucket"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            expr("bit_xor(__h60)").as("ids_xor60"))
          .orderBy("l_returnflag", "h_bucket")
      },
      oracle = Some(s"""
        |WITH h AS (
        |  SELECT l_returnflag, l_quantity,
        |    CAST('0x' || substr($scanScalingOracleHash, 1, 15) AS BIGINT)
        |      AS h60
        |  FROM lineitem)
        |SELECT l_returnflag, h60 % 8 AS h_bucket, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  bit_xor(h60) AS ids_xor60
        |FROM h GROUP BY l_returnflag, h_bucket
        |ORDER BY l_returnflag, h_bucket""".stripMargin),
      bench = true)
  )

  /** md5 rounds in q_scan_scaling's per-row derivation. The oracle
    * chain is GENERATED from the same constant ([[scanScalingOracleHash]]),
    * so the two sides cannot drift. 32 rounds ≈ 1.5 s serial over the
    * sf0.1 frame — enough that the scan stage, not the driver floor,
    * sets this entry's wall time at every core count. */
  private[graft] val ScanScalingMd5Rounds = 32

  /** The oracle-side md5 chain, generated from [[ScanScalingMd5Rounds]]. */
  private def scanScalingOracleHash: String =
    (1 to ScanScalingMd5Rounds).foldLeft(
      "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")(
      (s, _) => s"md5($s)")

  /** Build-once multi-file replica of the lineitem scan columns —
    * range-laid-out on the (l_orderkey, l_linenumber) key via
    * ops/Layout, one file per split. File count is SCALE-ADAPTIVE,
    * never a local constant: at least one file per session-width task
    * (so the local bench's scan actually fans out at any
    * `SPARK_GRAFT_CPUS`), and at least one per 128 MB of input (the
    * production file-sizing target from the optimization guide — a
    * 100 TB corpus gets ~800k files from the size arm, the width arm
    * is then irrelevant). */
  private[graft] def splitScanFor(spark: SparkSession, dir: String): String =
    BuildOnce.dir("split_scan", spark, Tables.paths(dir, "lineitem")) { base =>
      val li = Tables(spark, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      val bytes = li.queryExecution.analyzed.stats.sizeInBytes
      val n = math.max(
        spark.sessionState.conf.numShufflePartitions.toLong,
        (bytes / (128L * 1024 * 1024)).toLong + 1).toInt
      Layout.writeRangeLayout(li, s"$base/data", n,
        "l_orderkey", "l_linenumber")
    }
}
