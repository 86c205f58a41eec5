package graft.ops

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

class DeleteLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): (String, DataFrame) = {
    val base = Files.createTempDirectory("dl_spec").toString
    val df = (0L until 1000L).map(i => (i, s"row$i", i % 7)).toDF("pk", "payload", "g")
    DeleteLedger.create(spark, base, df)
    (base, df)
  }

  private val feedSchema = StructType.fromDDL("user_pk bigint")

  private def liveSet(base: String, maxBroadcast: Long = DeleteLedger.BroadcastDeleteRows) =
    DeleteLedger.read(spark, base, "pk", maxBroadcast).collect().toSet

  test("read == data minus the ledger; retried batch does not double-delete") {
    val (base, df) = freshTable()
    val b1 = df.filter(col("pk") % 7 === 3).select("pk")
    DeleteLedger.delete(spark, base, b1, "b1")
    DeleteLedger.delete(spark, base,
      df.filter(col("pk") % 11 === 5).select("pk"), "b2")
    DeleteLedger.delete(spark, base, b1, "b1") // retry replaces itself

    val expected = df.filter(!(col("pk") % 7 === 3 || col("pk") % 11 === 5))
      .collect().toSet
    assert(liveSet(base) === expected)
  }

  test("deleting keys the table never held is a no-op") {
    val (base, df) = freshTable()
    DeleteLedger.delete(spark, base,
      Seq(100000L, 200000L).toDF("pk"), "ghost")
    assert(liveSet(base) === df.collect().toSet)
  }

  test("broadcast and shuffle reconcile regimes return identical rows") {
    val (base, _) = freshTable()
    DeleteLedger.delete(spark, base,
      (0L until 1000L by 3).toDF("pk"), "b1")

    // pin the cost model AND AQE's runtime rescue off, so the
    // regime really is the gate's choice: the hinted read must
    // broadcast, the over-threshold read must shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val broad = DeleteLedger.read(spark, base, "pk")
      val shuffled = DeleteLedger.read(spark, base, "pk", maxBroadcast = 0L)
      assert(broad.collect().toSet === shuffled.collect().toSet)
      assert(execNodes(broad).exists(_.isInstanceOf[BroadcastHashJoinExec]))
      assert(execNodes(shuffled).exists(n =>
        n.isInstanceOf[SortMergeJoinExec] ||
          n.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("compact folds the ledger: same rows, version bumped, no join in the read plan") {
    val (base, _) = freshTable()
    DeleteLedger.delete(spark, base,
      (0L until 1000L by 5).toDF("pk"), "b1")
    val before = liveSet(base)

    val v = DeleteLedger.compact(spark, base, "pk")
    assert(v === 1)
    assert(DeleteLedger.currentVersion(base) === 1)
    assert(!Fs.hasCommittedParquet(new File(s"$base/deletes")))
    assert(liveSet(base) === before)

    val plan = DeleteLedger.read(spark, base, "pk")
    plan.collect()
    assert(!execNodes(plan).exists(n =>
      n.isInstanceOf[BroadcastHashJoinExec] || n.isInstanceOf[SortMergeJoinExec]))
  }

  test("crash window: stale ledger replayed over compacted data is a no-op") {
    val (base, df) = freshTable()
    val keys = (0L until 1000L by 4).toDF("pk")
    DeleteLedger.delete(spark, base, keys, "b1")
    val before = liveSet(base)
    DeleteLedger.compact(spark, base, "pk")
    // simulate: VERSION flipped but the ledger clear never happened —
    // re-plant the same ledger over the already-applied data
    DeleteLedger.delete(spark, base, keys, "b1")
    assert(liveSet(base) === before)
    // and the NEXT compact converges to a clean state
    DeleteLedger.compact(spark, base, "pk")
    assert(liveSet(base) === before)
    assert(DeleteLedger.currentVersion(base) === 2)
  }

  test("time travel: old versions stay readable exactly as committed; vacuum bounds history") {
    val (base, df) = freshTable()
    val v0 = df.collect().toSet
    DeleteLedger.delete(spark, base, (0L until 500L).toDF("pk"), "b1")
    DeleteLedger.compact(spark, base, "pk") // v1
    DeleteLedger.delete(spark, base, (500L until 750L).toDF("pk"), "b2")
    DeleteLedger.compact(spark, base, "pk") // v2

    assert(DeleteLedger.versions(base) === Seq(0, 1, 2))
    assert(DeleteLedger.readVersion(spark, base, 0).collect().toSet === v0)
    assert(DeleteLedger.readVersion(spark, base, 1).collect().toSet ===
      df.filter(col("pk") >= 500L).collect().toSet)
    assert(DeleteLedger.readVersion(spark, base, 2).collect().toSet ===
      df.filter(col("pk") >= 750L).collect().toSet)
    // current read == newest version when the ledger is empty
    assert(liveSet(base) === df.filter(col("pk") >= 750L).collect().toSet)

    assert(DeleteLedger.vacuum(base, keep = 1) === Seq(0, 1))
    assert(DeleteLedger.versions(base) === Seq(2))
    assert(liveSet(base) === df.filter(col("pk") >= 750L).collect().toSet)
    intercept[IllegalArgumentException] {
      DeleteLedger.readVersion(spark, base, 0)
    }
  }

  test("streamed delete feed == batch deletes; restart ingests only new files") {
    val (base, df) = freshTable()
    val feed = Files.createTempDirectory("dl_feed").toString
    def writeFeed(keys: Seq[Long]): Unit =
      keys.toDF("user_pk").coalesce(1).write.mode("append").parquet(feed)

    writeFeed(0L until 100L)
    writeFeed(100L until 150L)
    DeleteLedger.start(spark, feed, feedSchema, base, "user_pk").awaitTermination()
    assert(liveSet(base) === df.filter(col("pk") >= 150L).collect().toSet)

    // restart with one more feed file: only it is ingested
    writeFeed(Seq(200L, 201L))
    DeleteLedger.start(spark, feed, feedSchema, base, "user_pk").awaitTermination()
    assert(liveSet(base) ===
      df.filter(col("pk") >= 150L && !col("pk").isin(200L, 201L))
        .collect().toSet)
    // and compaction folds the streamed ledger like any other
    DeleteLedger.compact(spark, base, "pk")
    assert(liveSet(base) ===
      df.filter(col("pk") >= 150L && !col("pk").isin(200L, 201L))
        .collect().toSet)
  }

  test("batch and streamed deletes share one ledger schema: neither era's keys are lost") {
    val (base, df) = freshTable()
    // batch delete under a CALLER-NAMED key column …
    DeleteLedger.delete(spark, base,
      df.filter(col("pk") < 100L).select(col("pk").as("doc_id")), "batch1")
    // … then a streamed feed (which always lands as 'pk'): before key
    // normalization these were two different partition schemas and a
    // non-merged read nulled one era's keys out of the reconcile
    val feed = Files.createTempDirectory("dl_mixed_feed").toString
    (500L until 600L).toDF("user_pk").coalesce(1)
      .write.mode("append").parquet(feed)
    DeleteLedger.start(spark, feed, feedSchema, base, "user_pk").awaitTermination()

    assert(liveSet(base) ===
      df.filter(col("pk") >= 100L && !(col("pk") >= 500L && col("pk") < 600L))
        .collect().toSet)
  }

  /** Zone-map survivors / total files for a 10% pk band over the
    * CURRENT data version — the pruning-health probe the layout
    * tests pin. */
  private def pruneRatio(base: String): (Long, Long) = {
    val zm = Files.createTempDirectory("dl_zm_probe").toString
    ZoneMap.write(spark, DeleteLedger.dataDir(base), zm, Seq("pk"))
    val stats = ZoneMap.read(spark, zm)
    (ZoneMap.survivingFiles(stats, "pk", lit(100L), lit(199L)).length.toLong,
      stats.count())
  }

  test("compact preserves the declared range layout: zone-map pruning survives maintenance") {
    val base = Files.createTempDirectory("dl_layout").toString
    val df = (0L until 1000L).map(i => (i, s"row$i")).toDF("pk", "payload")
    DeleteLedger.create(spark, base, df, Some(Layout.RangeSpec(8, Seq("pk"))))

    val (beforeSurv, beforeTotal) = pruneRatio(base)
    assert(beforeTotal === 8L && beforeSurv <= 2L,
      s"v0 not clustered: $beforeSurv/$beforeTotal")

    DeleteLedger.delete(spark, base, (0L until 1000L by 5).toDF("pk"), "b1")
    val expected = liveSet(base)
    // maxBroadcast=0 forces the SHUFFLE reconcile — the regime any
    // 100 TB ledger lands in, and the one whose hash partitioning
    // would scatter an undeclared layout (see the negative control)
    DeleteLedger.compact(spark, base, "pk", maxBroadcast = 0L)
    assert(liveSet(base) === expected)

    // the compacted version prunes as well as v0 did — the property
    // the zone-map story depends on across maintenance cycles
    val (afterSurv, afterTotal) = pruneRatio(base)
    assert(afterTotal === 8L && afterSurv <= beforeSurv,
      s"compaction destroyed the layout: $afterSurv/$afterTotal files " +
        s"survive a 10% band (v0: $beforeSurv/$beforeTotal)")
  }

  test("negative control: an UNDECLARED layout is lost at the first shuffle-regime compaction") {
    val base = Files.createTempDirectory("dl_nolayout").toString
    // v0 range-clustered by WRITE ORDER only, nothing declared
    val df = (0L until 1000L).map(i => (i, s"row$i")).toDF("pk", "payload")
    DeleteLedger.create(spark, base, df.repartitionByRange(8, col("pk")))
    val (beforeSurv, _) = pruneRatio(base)
    assert(beforeSurv <= 2L)

    DeleteLedger.delete(spark, base, (0L until 1000L by 5).toDF("pk"), "b1")
    DeleteLedger.compact(spark, base, "pk", maxBroadcast = 0L)
    // the shuffle anti-join's hash partitioning spreads every output
    // file across the whole key domain: pruning silently collapses —
    // exactly the failure mode the declared-layout property retires
    val (afterSurv, afterTotal) = pruneRatio(base)
    assert(afterSurv === afterTotal && afterTotal >= 2L,
      s"expected pruning to collapse without a declared layout, " +
        s"got $afterSurv/$afterTotal")
  }

  test("declared z-order layout round-trips the property file and survives compaction") {
    val base = Files.createTempDirectory("dl_zorder").toString
    val df = (0L until 4096L).map(i => (i, i % 64, i / 64, s"p$i"))
      .toDF("pk", "a", "b", "payload")
    DeleteLedger.create(spark, base, df,
      Some(Layout.ZOrderSpec(16, "a", "b", bits = 8)))
    assert(DeleteLedger.declaredLayout(base) ===
      Some(Layout.ZOrderSpec(16, "a", "b", 8)))

    def boxFiles(): Long = {
      val zm = Files.createTempDirectory("dl_zorder_zm").toString
      ZoneMap.write(spark, DeleteLedger.dataDir(base), zm, Seq("a", "b"))
      ZoneMap.survivingBoxFiles(ZoneMap.read(spark, zm),
        Seq(("a", lit(10L), lit(20L)), ("b", lit(10L), lit(20L))))
    }
    val before = boxFiles()
    assert(before < 16L, s"v0 z-order not clustered: $before/16")

    DeleteLedger.delete(spark, base, (0L until 4096L by 7).toDF("pk"), "b1")
    val expected = liveSet(base)
    DeleteLedger.compact(spark, base, "pk", maxBroadcast = 0L)
    assert(liveSet(base) === expected)
    assert(boxFiles() <= before,
      s"compaction destroyed the z-order layout: ${boxFiles()}/16")
  }

  test("upserts: updates and inserts land without a data rewrite; latest seq wins; retry idempotent") {
    val (base, df) = freshTable()
    // seq 1: modify payload for pk < 100, insert two new keys
    val u1 = df.filter(col("pk") < 100L)
      .withColumn("payload", concat(lit("v1_"), col("payload")))
      .unionByName(Seq((5000L, "new5000", 0L), (5001L, "new5001", 1L))
        .toDF("pk", "payload", "g"))
    DeleteLedger.upsert(spark, base, u1, "pk", "u1", seq = 1L)
    // seq 2 re-modifies a subset — the later seq must win
    val u2 = df.filter(col("pk") < 50L)
      .withColumn("payload", concat(lit("v2_"), col("payload")))
    DeleteLedger.upsert(spark, base, u2, "pk", "u2", seq = 2L)
    // retried u1: dynamic overwrite replaces itself, no duplicates
    DeleteLedger.upsert(spark, base, u1, "pk", "u1", seq = 1L)

    val expected = df.collect().map { r =>
      val (pk, p, g) = (r.getLong(0), r.getString(1), r.getLong(2))
      (pk, if (pk < 50) s"v2_$p" else if (pk < 100) s"v1_$p" else p, g)
    }.toSet ++ Set((5000L, "new5000", 0L), (5001L, "new5001", 1L))
    assert(liveSet(base) === expected.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3)))
  }

  test("a delete beats every upsert to its key in the same window (compliance-first)") {
    val (base, df) = freshTable()
    DeleteLedger.upsert(spark, base,
      df.filter(col("pk") < 100L)
        .withColumn("payload", lit("updated")), "pk", "u1", seq = 5L)
    // the delete carries a LOWER seq — it still wins: erasure must
    // not lose to a late-arriving update in the same window
    DeleteLedger.delete(spark, base, (0L until 20L).toDF("pk"), "d1")
    val live = liveSet(base)
    assert(!live.exists(_.getLong(0) < 20L), "deleted keys resurrected")
    assert(live.count(r => r.getLong(0) < 100L && r.getString(1) == "updated") === 80)
    assert(live.size === 980)
  }

  test("compact folds upserts+deletes, clears both ledgers; stale upsert replay is a no-op") {
    val (base, df) = freshTable()
    val u1 = df.filter(col("pk") % 3 === 0)
      .withColumn("payload", concat(lit("up_"), col("payload")))
    DeleteLedger.upsert(spark, base, u1, "pk", "u1", seq = 1L)
    DeleteLedger.delete(spark, base, (0L until 1000L by 5).toDF("pk"), "d1")
    val before = liveSet(base)

    DeleteLedger.compact(spark, base, "pk", maxBroadcast = 0L)
    assert(liveSet(base) === before)
    assert(!Fs.hasCommittedParquet(new File(s"$base/upserts")))
    // no reconcile joins left in the read plan
    val plan = DeleteLedger.read(spark, base, "pk")
    plan.collect()
    assert(!execNodes(plan).exists(n =>
      n.isInstanceOf[BroadcastHashJoinExec] || n.isInstanceOf[SortMergeJoinExec]))

    // crash window A: VERSION flipped, NEITHER ledger cleared — both
    // replay together; the delete re-beats the upsert exactly as the
    // fold resolved it, so the live view is unchanged
    DeleteLedger.upsert(spark, base, u1, "pk", "u1", seq = 1L)
    DeleteLedger.delete(spark, base, (0L until 1000L by 5).toDF("pk"), "d1")
    assert(liveSet(base) === before)
    DeleteLedger.compact(spark, base, "pk")
    assert(liveSet(base) === before)

    // crash window B: upserts cleared, delete clear lost — stale
    // deletes alone re-apply to already-gone keys, a no-op (this is
    // WHY compact clears upserts first: the reverse order's window
    // holds upserts without the deletes that beat them and would
    // resurrect erased keys)
    DeleteLedger.delete(spark, base, (0L until 1000L by 5).toDF("pk"), "d1")
    assert(liveSet(base) === before)
    DeleteLedger.compact(spark, base, "pk")
    assert(liveSet(base) === before)
  }

  test("upsert schema mismatch fails loudly") {
    val (base, _) = freshTable()
    intercept[IllegalArgumentException] {
      DeleteLedger.upsert(spark, base,
        Seq((1L, "x")).toDF("pk", "payload"), "pk", "bad", seq = 1L)
    }
  }

  test("streamed upsert feed: micro-batch ids sequence the window; restart ingests only new files") {
    val (base, df) = freshTable()
    val feed = Files.createTempDirectory("dl_upsert_feed").toString
    def writeFeed(rows: org.apache.spark.sql.DataFrame): Unit =
      rows.coalesce(1).write.mode("append").parquet(feed)

    // feed file 1 then file 2 touch an overlapping key range — the
    // later micro-batch must win on the overlap
    writeFeed(df.filter(col("pk") < 100L)
      .withColumn("payload", lit("feed1")))
    DeleteLedger.startUpserts(spark, feed, df.schema, base, "pk").awaitTermination()
    writeFeed(df.filter(col("pk") >= 50L && col("pk") < 150L)
      .withColumn("payload", lit("feed2")))
    DeleteLedger.startUpserts(spark, feed, df.schema, base, "pk").awaitTermination()

    val live = liveSet(base)
    assert(live.count(_.getString(1) == "feed1") === 50) // 0..49
    assert(live.count(_.getString(1) == "feed2") === 100) // 50..149
    assert(live.size === 1000)
    // and compaction folds the streamed window like any other
    DeleteLedger.compact(spark, base, "pk")
    assert(liveSet(base) === live)
  }

  test("rangeauto layout: the compacted file count tracks the measured rows") {
    val base = Files.createTempDirectory("dl_rangeauto").toString
    val df = (0L until 1000L).map(i => (i, s"row$i")).toDF("pk", "payload")
    DeleteLedger.create(spark, base, df,
      Some(Layout.RangeAutoSpec(targetFileRows = 100L, Seq("pk"))))
    def dataFiles(): Int = new File(DeleteLedger.dataDir(base))
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(dataFiles() === 10, s"v0: ${dataFiles()}")

    // shrink the table: the next rewrite derives FEWER files — a
    // frozen numFiles would keep 10 ever-smaller ones
    DeleteLedger.delete(spark, base, (0L until 1000L)
      .filter(_ % 4 != 0).toDF("pk"), "b1")
    DeleteLedger.compact(spark, base, "pk", maxBroadcast = 0L)
    assert(DeleteLedger.read(spark, base, "pk").count() === 250L)
    assert(dataFiles() === 3, s"v1: ${dataFiles()}")

    // and the clustering still prunes: a zone map over v1 keeps ~1
    // file for a 10% band
    val zm = Files.createTempDirectory("dl_rangeauto_zm").toString
    ZoneMap.write(spark, DeleteLedger.dataDir(base), zm, Seq("pk"))
    val surv = ZoneMap.survivingFiles(ZoneMap.read(spark, zm),
      "pk", lit(100L), lit(199L))
    assert(surv.length === 1, s"survivors: ${surv.length}")
  }

  test("a read after a commit submits no job; a manifest without a schema still reads") {
    // create and compact both commit through MergeableStore.commitNext,
    // which records the version's schema: the read infers nothing
    val (base, df) = freshTable()
    val (created, jobs) = org.apache.spark.sql.graft.JobProbe.jobs(spark) {
      DeleteLedger.read(spark, base, "pk")
    }
    assert(jobs === 0)
    assert(created.collect().toSet === df.collect().toSet)
    DeleteLedger.delete(spark, base, Seq(3L, 4L).toDF("pk"), "b1")
    DeleteLedger.compact(spark, base, "pk")
    val (compacted, jobsAfter) = org.apache.spark.sql.graft.JobProbe.jobs(spark) {
      DeleteLedger.read(spark, base, "pk")
    }
    assert(jobsAfter === 0)
    val live = df.filter(!col("pk").isin(3L, 4L)).collect().toSet
    assert(compacted.collect().toSet === live)
    // a pointer written before schemas were recorded: version only
    Files.write(new File(base, "_MANIFEST").toPath, "version 1\n".getBytes("UTF-8"))
    assert(liveSet(base) === live)
    assert(DeleteLedger.read(spark, base, "pk").columns.toSeq === Seq("pk", "payload", "g"))
  }

  test("deletes accumulate across compactions") {
    val (base, df) = freshTable()
    DeleteLedger.delete(spark, base, Seq(1L, 2L).toDF("pk"), "b1")
    DeleteLedger.compact(spark, base, "pk")
    DeleteLedger.delete(spark, base, Seq(3L, 4L).toDF("pk"), "b2")
    val expected = df.filter(!col("pk").isin(1L, 2L, 3L, 4L)).collect().toSet
    assert(liveSet(base) === expected)
  }
}
