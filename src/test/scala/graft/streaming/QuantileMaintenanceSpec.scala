package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ops.QuantileSketch

/** QuantileMaintenance: the streamed quantile store equals the
  * one-shot batch build over the union corpus bit-for-bit, replayed
  * epochs fold exactly once (stamp guard), and a restarted stream
  * ingests only new files.
  */
class QuantileMaintenanceSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val K = 256

  private def orderRows(lo: Long, hi: Long) =
    Tables(spark, sfDir, "orders")
      .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
      .select((col("o_totalprice") * 100).cast("long").as("v"),
        QuantileSketch.hash60(col("o_orderkey").cast("string")).as("h"))

  test("streamed folds == batch build, replay folds once") {
    val store = Files.createTempDirectory("graft_qm_store").toString
    val cuts = Seq(0L, 300L, 900L, 2000L, 4000L, 100000000L)
    QuantileMaintenance.build(orderRows(cuts(0), cuts(1)), store, K)
    cuts.sliding(2).toSeq.drop(1).zipWithIndex.foreach {
      case (Seq(lo, hi), i) =>
        QuantileMaintenance.mergeDelta(spark, store,
          orderRows(lo, hi), s"b$i", K)
        // at-least-once replay of every epoch: the stamp guard must
        // make the second delivery a no-op
        QuantileMaintenance.mergeDelta(spark, store,
          orderRows(lo, hi), s"b$i", K)
    }
    val (streamed, _) = QuantileMaintenance.readSketch(spark, store, K)
    val batch = QuantileMaintenance.sketchOf(
      orderRows(0L, 100000000L), K)
    assert(streamed.level === batch.level)
    assert(streamed.total === batch.total)
    assert(streamed.canonical === batch.canonical)
    assert(streamed.items.size <= K)
    // the maintained store answers quantiles like the one-shot build
    for (phi <- Seq(2500L, 5000L, 9500L))
      assert(streamed.quantile(phi) === batch.quantile(phi))
  }

  test("histogram boundaries served from the maintained store == batch-built") {
    val store = Files.createTempDirectory("graft_qm_store3").toString
    QuantileMaintenance.build(orderRows(0L, 2000L), store, K)
    QuantileMaintenance.mergeDelta(spark, store,
      orderRows(2000L, 100000000L), "b0", K)
    // the store serves equi-depth boundaries with NO rescan of history
    val fromStore = graft.ops.Histogram.sketchBoundaries(
      QuantileMaintenance.sketchFrame(spark, store, K), 8)
      .collect().map(_.toString).toSeq
    val batchSketch = QuantileSketch.sketchRows(
      orderRows(0L, 100000000L), K)
    val fromBatch = graft.ops.Histogram.sketchBoundaries(batchSketch, 8)
      .collect().map(_.toString).toSeq
    assert(fromStore === fromBatch)
  }

  test("file-stream maintenance: streamed store == one-shot, restart is incremental") {
    val src = Files.createTempDirectory("graft_qm_src").toString
    val store = Files.createTempDirectory("graft_qm_store2").toString
    def writePart(lo: Long, hi: Long): Unit =
      Tables(spark, sfDir, "orders")
        .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
        .select(col("o_orderkey"), col("o_totalprice"))
        .coalesce(1).write.mode("append").parquet(src)

    val srcSchema = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice")).schema
    writePart(0L, 1500L); writePart(1500L, 3000L)
    QuantileMaintenance.build(orderRows(0L, 0L), store, K) // empty bootstrap
    val q1 = QuantileMaintenance.start(spark, src, srcSchema, store,
      "CAST(o_totalprice * 100 AS LONG)", "o_orderkey", K)
    q1.awaitTermination()
    val (afterTwo, _) = QuantileMaintenance.readSketch(spark, store, K)
    val expectTwo = QuantileMaintenance.sketchOf(orderRows(0L, 3000L), K)
    assert(afterTwo.canonical === expectTwo.canonical)
    assert(afterTwo.total === expectTwo.total)

    // restart with one more file: only the new file is ingested
    writePart(3000L, 100000000L)
    val q2 = QuantileMaintenance.start(spark, src, srcSchema, store,
      "CAST(o_totalprice * 100 AS LONG)", "o_orderkey", K)
    q2.awaitTermination()
    val (finalSk, _) = QuantileMaintenance.readSketch(spark, store, K)
    val expectAll = QuantileMaintenance.sketchOf(
      orderRows(0L, 100000000L), K)
    assert(finalSk.canonical === expectAll.canonical)
    assert(finalSk.total === expectAll.total)
    assert(finalSk.level === expectAll.level)
  }
}
