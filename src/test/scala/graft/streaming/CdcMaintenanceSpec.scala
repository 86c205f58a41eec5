package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.pipeline.CdcMerge
import org.apache.spark.sql.functions._

/** streaming/CdcMaintenance — the incrementally-maintained latest-state
  * store must equal the batch [[CdcMerge]] of the same log, stay
  * convergent under replayed AND out-of-order batches (the monotone
  * sequence guard), keep deletes as tombstones a stale replay cannot
  * resurrect, and rewrite only the bucket partitions a batch touches.
  */
class CdcMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private val B = 4

  private def baseDf = Seq(
    (1L, "b1"), (2L, "b2"), (3L, "b3"), (4L, "b4"), (6L, "b6")
  ).toDF("k", "payload")

  private def log1 = Seq(
    (2L, "u2", "U", 1L),
    (3L, "u3", "U", 1L),
    (4L, "", "D", 1L)
  ).toDF("k", "payload", "op", "seq")

  private def log2 = Seq(
    (3L, "", "D", 2L),
    (4L, "u4", "U", 2L), // resurrects 4 after its seq-1 delete
    (5L, "u5", "U", 2L), // brand-new key
    (6L, "u6b", "U", 3L)
  ).toDF("k", "payload", "op", "seq")

  private def state(store: String) =
    CdcMaintenance.read(spark, store, keys)
      .as[(Long, String)].collect().toSet

  test("streamed folds == batch CdcMerge; replay and out-of-order converge") {
    val store = s"${Files.createTempDirectory("cdc_store")}/store"
    CdcMaintenance.buildStore(baseDf, keys, store, B)
    CdcMaintenance.mergeBatch(spark, store, log1, keys, B)
    CdcMaintenance.mergeBatch(spark, store, log2, keys, B)

    val want = CdcMerge(baseDf, log1.unionByName(log2), keys)
      .as[(Long, String)].collect().toSet
    assert(state(store) === want)
    assert(want === Set((1L, "b1"), (2L, "u2"), (4L, "u4"), (5L, "u5"),
      (6L, "u6b")))

    // replayed batch: a no-op (monotone guard, ties → store wins)
    CdcMaintenance.mergeBatch(spark, store, log2, keys, B)
    assert(state(store) === want)
    // OUT-OF-ORDER replay of the older batch: every sequence is
    // already absorbed — in particular the seq-1 delete of key 4 must
    // NOT resurrect over its seq-2 upsert, and the seq-1 upsert of
    // key 3 must NOT revive its seq-2 tombstone
    CdcMaintenance.mergeBatch(spark, store, log1, keys, B)
    assert(state(store) === want)
  }

  test("a batch rewrites only the bucket partitions it touches") {
    val store = s"${Files.createTempDirectory("cdc_bucket")}/store"
    CdcMaintenance.buildStore(baseDf, keys, store, B)
    def files(b: Int) =
      new java.io.File(graft.ops.MergeableStore.partitionDir(store, s"bucket=$b").get)
        .listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    val single = Seq((2L, "u2", "U", 1L)).toDF("k", "payload", "op", "seq")
    val touched = single.select(
      pmod(hash(col("k")), lit(B)).cast("int")).head().getInt(0)
    val untouched = (0 until B).filter(_ != touched)
      .filter(b => graft.ops.MergeableStore.partitionDir(store, s"bucket=$b").isDefined)
    require(untouched.nonEmpty, "fixture must span several buckets")
    val before = untouched.map(b => b -> files(b)).toMap
    CdcMaintenance.mergeBatch(spark, store, single, keys, B)
    untouched.foreach(b => assert(files(b) === before(b),
      s"bucket $b was rewritten by a batch that never touched it"))
    assert(state(store).contains((2L, "u2")))
  }

  test("crash mid-write converges on retry (partial buckets then full)") {
    // simulate a crash after SOME bucket partitions of a batch landed:
    // apply the batch restricted to one bucket (the partitions the
    // first attempt managed to overwrite), then retry the FULL batch —
    // the monotone guard must pass through the already-merged bucket
    // and merge the missed ones, landing exactly where a clean single
    // apply would
    val a = s"${Files.createTempDirectory("cdc_crash_a")}/store"
    val b = s"${Files.createTempDirectory("cdc_crash_b")}/store"
    CdcMaintenance.buildStore(baseDf, keys, a, B)
    CdcMaintenance.buildStore(baseDf, keys, b, B)
    val firstBucket = log1.select(
      pmod(hash(col("k")), lit(B)).cast("int")).head().getInt(0)
    val partial = log1.filter(
      pmod(hash(col("k")), lit(B)) === firstBucket)
    require(partial.count() < log1.count(),
      "fixture must span several buckets for the crash simulation")
    CdcMaintenance.mergeBatch(spark, a, partial, keys, B) // the "crash"
    CdcMaintenance.mergeBatch(spark, a, log1, keys, B)    // the retry
    CdcMaintenance.mergeBatch(spark, b, log1, keys, B)    // clean apply
    assert(state(a) === state(b))
  }

  test("asOfSeq: point-in-time reads == filtered-log replay at every seq") {
    val store = s"${Files.createTempDirectory("cdc_asof")}/store"
    CdcMaintenance.buildStore(baseDf, keys, store, B)
    CdcMaintenance.mergeBatch(spark, store, log1, keys, B)
    CdcMaintenance.mergeBatch(spark, store, log2, keys, B)
    val fullLog = log1.unionByName(log2)
    // the seeded log (base at MinValue + every change) is the full
    // retention horizon — with it, EVERY as-of point is exact
    val seeded = baseDf
      .withColumn("op", lit("U"))
      .withColumn("seq", lit(Long.MinValue))
      .unionByName(fullLog)
    def asOf(log: org.apache.spark.sql.DataFrame, s: Long) =
      CdcMaintenance.asOfSeq(spark, store, log, keys, s)
        .as[(Long, String)].collect().toSet
    def want(s: Long) =
      CdcMerge.asOf(baseDf, fullLog, keys, s)
        .as[(Long, String)].collect().toSet
    // at the max sequence the as-of read IS the current state
    assert(asOf(seeded, 3L) === state(store))
    // every historical point matches the batch filtered replay —
    // including seq 1 (key 4 deleted, not yet resurrected) and the
    // store having compacted PAST both points — and seq 0 = base
    (0L to 3L).foreach(s => assert(asOf(seeded, s) === want(s), s"asOf($s)"))
    assert(asOf(seeded, 1L) ===
      Set((1L, "b1"), (2L, "u2"), (3L, "u3"), (6L, "b6")))
    // the horizon contract, exercised from the other side: with the
    // UNSEEDED log, a key whose FIRST logged change postdates the
    // as-of point (key 6, first logged at seq 3, store compacted to
    // seq 3) cannot be answered from store ≤ 1 ∪ log ≤ 1 — it falls
    // out, while every key with in-horizon history is still exact
    assert(asOf(fullLog, 1L) === want(1L) - ((6L, "b6")))
    // keys the store did NOT compact past asOf always serve from the
    // store, even with an EMPTY retained log: at asOf=3 only key 6's
    // row postdates nothing — all state is current
    assert(asOf(fullLog.filter(lit(false)), 3L) === state(store))
  }

  test("gcTombstones drops only expired tombstones; reads unchanged") {
    val store = s"${Files.createTempDirectory("cdc_gc")}/store"
    CdcMaintenance.buildStore(baseDf, keys, store, B)
    CdcMaintenance.mergeBatch(spark, store, log1, keys, B)
    CdcMaintenance.mergeBatch(spark, store, log2, keys, B)
    val before = state(store)
    def tombs() = spark.read.parquet(store)
      .filter(col("op") === "D").select("k").as[Long].collect().toSet
    assert(tombs() === Set(3L), "key 3 deleted at seq 2 is the tombstone")

    // horizon below the delete: nothing may be dropped
    CdcMaintenance.gcTombstones(spark, store, horizon = 1L)
    assert(tombs() === Set(3L), "in-window tombstone must survive")
    // horizon at the delete sequence: the tombstone goes, reads agree
    CdcMaintenance.gcTombstones(spark, store, horizon = 2L)
    assert(tombs() === Set.empty, "expired tombstone must be dropped")
    assert(state(store) === before, "GC changed the visible state")
    // the store stays mergeable after GC
    CdcMaintenance.mergeBatch(spark, store,
      Seq((7L, "u7", "U", 4L)).toDF("k", "payload", "op", "seq"), keys, B)
    assert(state(store) === before + ((7L, "u7")))
  }

  test("the streaming entry point drains a changelog directory") {
    val dir = Files.createTempDirectory("cdc_stream").toString
    val src = s"$dir/log"
    val store = s"$dir/store"
    CdcMaintenance.buildStore(baseDf, keys, store, B)
    log1.write.parquet(src)
    log2.write.mode("append").parquet(src)
    val q = CdcMaintenance.start(spark, src, log1.schema, store, keys, B)
    q.awaitTermination()
    val want = CdcMerge(baseDf, log1.unionByName(log2), keys)
      .as[(Long, String)].collect().toSet
    assert(state(store) === want)
  }
}
