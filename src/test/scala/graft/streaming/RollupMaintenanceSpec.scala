package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class RollupMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, typ: String, v: Double, t: String) =
    (id, 10L, typ, v, Timestamp.valueOf(t))

  test("incrementally maintained rollup converges to the batch rollup") {
    val base = Files.createTempDirectory("rollup_maint").toString
    val (src, store) = (s"$base/src", s"$base/store")

    // file 1: two hours of clicks + a view
    val f1 = Seq(
      ev(1, "click", 5.0, "2024-01-01 10:05:00"),
      ev(2, "click", 3.0, "2024-01-01 10:40:00"),
      ev(3, "view", 1.0, "2024-01-01 11:10:00"))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    // file 2 (arrives later): a LATE click into hour 10 — must correct
    // the already-written (10, click) partition without touching
    // (11, view) — plus a new hour-12 event
    val f2 = Seq(
      ev(4, "click", 2.0, "2024-01-01 10:50:00"),
      ev(5, "view", 7.0, "2024-01-01 12:00:00"))
      .toDF("event_id", "user_id", "event_type", "value", "ts")

    f1.write.parquet(src)
    f2.coalesce(1).write.mode("append").parquet(src)

    val q = RollupMaintenance.start(spark, src, f1.schema, store)
    q.awaitTermination(120000)

    val all = f1.unionByName(f2)
    val expected = EventsStream.hourlyRollup(all)
      .orderBy("hour_start", "event_type")
      .as[(String, String, Long, Double)].collect().toSeq
    val got = RollupMaintenance.read(spark, store)
      .orderBy("hour_start", "event_type")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got === expected)
    // the corrected click hour holds all 3 clicks
    assert(got.contains(("2024-01-01 10:00:00", "click", 3L, 10.0)))
  }

  test("a replayed batch overwrites its partitions (no double counting)") {
    val base = Files.createTempDirectory("rollup_retry").toString
    val store = s"$base/store"
    val batch = Seq(
      ("2024-01-01-10", "click", 2L, 8.0),
      ("2024-01-01-11", "view", 1L, 1.0))
      .toDF("hour", "event_type", "n_events", "total_value")

    RollupMaintenance.upsertBatch(batch, store)
    RollupMaintenance.upsertBatch(batch, store) // foreachBatch retry

    val got = spark.read.parquet(store)
      .groupBy("hour", "event_type").agg(sum("n_events").as("n"))
      .select("n").as[Long].collect().toSeq
    assert(got.sorted === Seq(1L, 2L)) // counts unchanged, rows not doubled
  }

  test("batch mergeDelta: bit-equal to full recompute, untouched partitions' files not rewritten, retry idempotent") {
    val base = Files.createTempDirectory("rollup_merge").toString
    val store = s"$base/store"
    val part1 = Seq(
      ev(1, "click", 5.25, "2024-01-01 10:05:00"),
      ev(2, "click", 3.10, "2024-01-01 10:40:00"),
      ev(6, "view", 9.99, "2024-01-01 10:20:00"), // touched HOUR, other TYPE
      ev(3, "view", 1.05, "2024-01-01 11:10:00"))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    // delta: a LATE click into hour 10 + a brand-new hour 12 — the
    // delta mentions (10, click) and (12, view) and NOTHING else
    val part2 = Seq(
      ev(4, "click", 2.20, "2024-01-01 10:50:00"),
      ev(5, "view", 7.77, "2024-01-01 12:01:00"))
      .toDF("event_id", "user_id", "event_type", "value", "ts")

    RollupMaintenance.buildStore(part1, store)
    def files(p: String) =
      new java.io.File(graft.ops.MergeableStore.partitionDir(store, p).get)
        .listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    // untouched in BOTH senses: a different hour, and the delta's own
    // hour but a type the delta does not carry — neither may be read
    // back and rewritten
    val otherHour = files("hour=2024-01-01-11/event_type=view")
    val otherType = files("hour=2024-01-01-10/event_type=view")

    RollupMaintenance.mergeDelta(spark, store, part2, batchId = "b1")

    // bit-parity with a full recompute over all events (decimal totals
    // round-trip the store's double exactly, so merged doubles match)
    def state() = RollupMaintenance.read(spark, store)
      .as[(String, String, Long, Double)].collect().toSet
    val want = EventsStream.hourlyRollup(part1.unionByName(part2))
      .as[(String, String, Long, Double)].collect().toSet
    assert(state() === want)
    assert(files("hour=2024-01-01-11/event_type=view") === otherHour)
    assert(files("hour=2024-01-01-10/event_type=view") === otherType)

    // retried batch (same batchId): the per-partition stamp keeps the
    // already-merged rows — no double counting, store unchanged
    RollupMaintenance.mergeDelta(spark, store, part2, batchId = "b1")
    assert(state() === want)
  }
}
