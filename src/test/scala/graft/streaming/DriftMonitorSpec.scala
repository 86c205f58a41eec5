package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** streaming/DriftMonitor — the KS alert composed from the maintained
  * equi-width stores must equal the batch statistic on the same data
  * (streamed == batch-built stores == raw two-sample KS when the grid
  * resolves every distinct value), survive a restart mid-stream, and
  * flip its exact-integer drift flag when a shifted distribution
  * arrives.
  */
class DriftMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val Lo = 0L
  private val W = 1L
  private val B = 10
  private val Thr = 300L // 0.300 in permille-exact form

  // integer-valued fixture: grid width 1 resolves every value, so the
  // bucketed KS must equal the raw two-sample KS
  private def f1 = Seq(
    ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 5.0),
    ("b", 1.0), ("b", 2.0), ("b", 4.0)).toDF("grp", "v")
  private def f2 = Seq(
    ("a", 2.0), ("a", 7.0), ("b", 3.0), ("b", 7.0)).toDF("grp", "v")
  // drifted tail: grp b mass jumps to the top of the grid
  private def f3 = Seq(
    ("a", 2.0), ("a", 3.0),
    ("b", 9.0), ("b", 9.0), ("b", 9.0), ("b", 9.0)).toDF("grp", "v")

  /** Raw two-sample KS numerator over the unbinned values — the
    * plain-Scala reference (max |cumA·n2 − cumB·n1| over the merged
    * value axis). */
  private def rawKs(rows: Seq[(String, Double)]): (Long, Long, Long) = {
    val as = rows.filter(_._1 == "a").map(_._2)
    val bs = rows.filter(_._1 == "b").map(_._2)
    val (n1, n2) = (as.size.toLong, bs.size.toLong)
    val dNum = (as ++ bs).distinct.sorted.map { x =>
      math.abs(as.count(_ <= x) * n2 - bs.count(_ <= x) * n1)
    }.max
    (n1, n2, dNum)
  }

  private def ksRow(storeA: String, storeB: String) =
    DriftMonitor.ksFromStores(spark, storeA, storeB, B)
      .select("n1", "n2", "d_num").as[(Long, Long, Long)].head()

  test("streamed stores' KS == batch-built == raw KS; restart converges") {
    val base = Files.createTempDirectory("drift").toString
    val (src, sa, sb, alerts) =
      (s"$base/src", s"$base/a", s"$base/b", s"$base/alerts")
    val empty = Seq.empty[Double].toDF("v")
    HistogramMaintenance.build(empty, col("v"), Lo, W, B, sa)
    HistogramMaintenance.build(empty, col("v"), Lo, W, B, sb)

    // batch 0 only, then a RESTART picks up batches 1 and 2 from the
    // same checkpoint — the stores and the alert log must land exactly
    // where a single uninterrupted run would
    f1.coalesce(1).write.parquet(src)
    DriftMonitor.start(spark, src, f1.schema, sa, sb, alerts,
      "grp", "a", "v", Lo, W, B, Thr).awaitTermination()
    val afterB0 = ksRow(sa, sb)

    f2.coalesce(1).write.mode("append").parquet(src)
    f3.coalesce(1).write.mode("append").parquet(src)
    DriftMonitor.start(spark, src, f1.schema, sa, sb, alerts,
      "grp", "a", "v", Lo, W, B, Thr).awaitTermination()

    // streamed == batch-built stores
    val all = f1.unionByName(f2).unionByName(f3)
    val (fa, fb) = (s"$base/fa", s"$base/fb")
    HistogramMaintenance.build(all.filter(col("grp") === "a"),
      col("v"), Lo, W, B, fa)
    HistogramMaintenance.build(all.filter(col("grp") =!= "a"),
      col("v"), Lo, W, B, fb)
    assert(ksRow(sa, sb) === ksRow(fa, fb), "streamed != batch-built")

    // bucketed == raw at a value-resolving grid — for the final state
    // AND the batch-0 checkpoint state
    val allRows = Seq(f1, f2, f3).flatMap(
      _.as[(String, Double)].collect())
    assert(ksRow(sa, sb) === rawKs(allRows), "bucketed != raw KS")
    assert(afterB0 === rawKs(f1.as[(String, Double)].collect().toSeq),
      "batch-0 state != raw KS of batch 0")

    // alert log: one row per batch, drift flagged exactly when
    // d_num·1000 >= thr·n1·n2 — false before the shift, true after
    val log = DriftMonitor.alerts(spark, alerts)
      .select("batch", "d_num", "n1", "n2", "drift")
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .sortBy(_._1)
    assert(log.map(_._1).toSeq === Seq(0L, 1L, 2L), "one row per batch")
    log.foreach { case (b, d, n1, n2, drift) =>
      assert(drift === (d * 1000 >= Thr * n1 * n2), s"batch $b flag")
    }
    assert(!log.head._5, "no drift on the undrifted prefix")
    assert(log.last._5, "the shifted batch must trip the alert")
  }

  test("replayed epoch rewrites its alert row instead of duplicating it") {
    val base = Files.createTempDirectory("drift_replay").toString
    val (sa, sb, alerts) = (s"$base/a", s"$base/b", s"$base/alerts")
    val empty = Seq.empty[Double].toDF("v")
    HistogramMaintenance.build(empty, col("v"), Lo, W, B, sa)
    HistogramMaintenance.build(empty, col("v"), Lo, W, B, sb)
    // fold one epoch twice by hand (the foreachBatch retry shape)
    (1 to 2).foreach { _ =>
      HistogramMaintenance.mergeDelta(spark, sa,
        f1.filter(col("grp") === "a"), col("v"), Lo, W, B, "b0")
      HistogramMaintenance.mergeDelta(spark, sb,
        f1.filter(col("grp") =!= "a"), col("v"), Lo, W, B, "b0")
      DriftMonitor.alertRow(spark, sa, sb, B, Thr, 0L)
        .coalesce(1).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(alerts)
    }
    assert(DriftMonitor.alerts(spark, alerts).count() === 1L,
      "replay must rewrite, not append")
    assert(ksRow(sa, sb) ===
      rawKs(f1.as[(String, Double)].collect().toSeq),
      "double-fold corrupted the stores")
  }
}
