package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The streamed experiment readout must converge to the batch
  * q_ab_test bit-for-bit, fold replays idempotently, and implement
  * the monotone OR (a conversion can never be revoked by a later
  * non-converting sighting of the same user).
  */
class ExperimentMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("streamed cumulative readout == batch q_ab_test; replay converges") {
    val base = Files.createTempDirectory("exp_mon").toString
    val src = s"$base/src"
    val store = s"$base/store"
    val alerts = s"$base/alerts"

    // scatter each user's events across epochs (slice by event_id):
    // conversions arrive in different batches than first exposure
    val ev = Tables(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "value")
    for (m <- 0 to 2)
      ev.filter(col("event_id") % 3 === m)
        .repartition(1).write.mode("append").parquet(src)

    ExperimentMonitor.start(spark, src, ev.schema, store, alerts).awaitTermination()

    val log = ExperimentMonitor.alerts(spark, alerts)
    assert(log.count() === 3L)
    val cols = graft.SparkEntry.queries("q_ab_test")(spark, sf).columns
    val last = log.orderBy(col("batch").desc).limit(1)
      .select(cols.map(col): _*).collect().toSeq
    val batch = graft.SparkEntry.queries("q_ab_test")(spark, sf)
      .collect().toSeq
    assert(last === batch)

    // replayed epoch: refold the last slice — the store's monotone
    // guard makes it a no-op and the readout is unchanged
    CdcMaintenance.mergeBatch(spark, store,
      ExperimentMonitor.conversions(
        ev.filter(col("event_id") % 3 === 2)
          .select("user_id", "event_type", "value")),
      Seq("user_id"), 32)
    val again = ExperimentMonitor.alertRow(spark, store, 99L)
      .select(cols.map(col): _*).collect().toSeq
    assert(again === batch)
  }

  test("50-batch soak: epoch-scattered folds + every-10th replay converge to batch q_ab_test") {
    val base = Files.createTempDirectory("exp_mon_soak").toString
    val store = s"$base/store"
    // 50 epochs sliced by event_id: each user's exposures and
    // conversions land scattered across many epochs, interleaved with
    // at-least-once replays — the long-haul version of the 3-epoch
    // convergence test above
    val ev = Tables(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "value")
    for (b <- 0 until 50) {
      val slice = ExperimentMonitor.conversions(
        ev.filter(col("event_id") % 50 === b)
          .select("user_id", "event_type", "value"))
      if (b == 0) CdcMaintenance.seedStore(slice, Seq("user_id"), store, 32)
      else CdcMaintenance.mergeBatch(spark, store, slice, Seq("user_id"), 32)
      // every 10th epoch redelivers: the monotone guard must make the
      // refold a no-op (checked implicitly by the final readout, and
      // bindingly at epoch 29 mid-soak)
      if (b % 10 == 9) {
        CdcMaintenance.mergeBatch(spark, store, slice, Seq("user_id"), 32)
        if (b == 29) {
          val mid = CdcMaintenance.read(spark, store, Seq("user_id"))
            .agg(sum("conv")).as[Long].collect()(0)
          CdcMaintenance.mergeBatch(spark, store, slice, Seq("user_id"), 32)
          val again = CdcMaintenance.read(spark, store, Seq("user_id"))
            .agg(sum("conv")).as[Long].collect()(0)
          assert(again === mid, "triple replay moved the store")
        }
      }
    }
    val cols = graft.SparkEntry.queries("q_ab_test")(spark, sf).columns
    val streamed = ExperimentMonitor.alertRow(spark, store, 49L)
      .select(cols.map(col): _*).collect().toSeq
    val batch = graft.SparkEntry.queries("q_ab_test")(spark, sf)
      .collect().toSeq
    assert(streamed === batch)
  }

  test("monotone OR: a later non-converting sighting cannot revoke a conversion") {
    val base = Files.createTempDirectory("exp_mon_or").toString
    val store = s"$base/store"
    val b0 = Seq((1L, "purchase", 95.0), (2L, "view", 1.0), (4L, "view", 2.0))
      .toDF("user_id", "event_type", "value")
    val b1 = Seq((1L, "view", 1.0), (2L, "purchase", 95.0),
      (3L, "purchase", 10.0)) // low-value purchase: NOT a conversion
      .toDF("user_id", "event_type", "value")

    CdcMaintenance.seedStore(ExperimentMonitor.conversions(b0),
      Seq("user_id"), store, 32)
    CdcMaintenance.mergeBatch(spark, store,
      ExperimentMonitor.conversions(b1), Seq("user_id"), 32)

    val st = CdcMaintenance.read(spark, store, Seq("user_id"))
      .select("user_id", "conv").as[(Long, Long)].collect().toMap
    assert(st === Map(
      1L -> 1L, // converted in b0; b1's view must not revoke
      2L -> 1L, // late conversion lands
      3L -> 0L, // low-value purchase is not a conversion
      4L -> 0L))
  }
}
