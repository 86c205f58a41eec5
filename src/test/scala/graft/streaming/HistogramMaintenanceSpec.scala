package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** streaming/HistogramMaintenance — the incrementally-maintained
  * equi-width stats store. Linearity (streamed == batch-built),
  * replay idempotency, retraction, and the certain selectivity
  * bracket are each asserted directly; the bracket check mirrors
  * HistogramSpec's so the two stats paths are held to the same
  * contract.
  */
class HistogramMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val Lo = 0L
  private val W = 10L
  private val B = 12

  private def countsOf(dir: String) =
    HistogramMaintenance.read(spark, dir)
      .select("bucket", "c").as[(Long, Long)].collect().toSeq.sortBy(_._1)

  test("mergeDelta equals full recompute; retry no-op; retraction") {
    val store = Files.createTempDirectory("hist").toString + "/store"
    val b0 = Seq(3.0, 17.0, 17.5, 42.0, 999.0).toDF("v")   // 999 clamps
    val b1 = Seq(-5.0, 18.0, 60.0).toDF("v")               // -5 clamps
    val b2 = Seq(42.0, 42.0, 115.0).toDF("v")

    HistogramMaintenance.build(b0, col("v"), Lo, W, B, store)
    HistogramMaintenance.mergeDelta(spark, store, b1, col("v"), Lo, W, B, "b1")
    HistogramMaintenance.mergeDelta(spark, store, b2, col("v"), Lo, W, B, "b2")
    val maintained = countsOf(store)

    val full = Files.createTempDirectory("hist").toString + "/full"
    HistogramMaintenance.build(b0.unionByName(b1).unionByName(b2),
      col("v"), Lo, W, B, full)
    assert(maintained === countsOf(full), "incremental != full recompute")
    assert(maintained.length === B, "store must stay dense")
    assert(maintained.map(_._2).sum === 11L, "clamping must not drop mass")

    HistogramMaintenance.mergeDelta(spark, store, b2, col("v"), Lo, W, B, "b2")
    assert(countsOf(store) === maintained, "retried epoch double-folded")

    HistogramMaintenance.mergeDelta(spark, store, b2, col("v"), Lo, W, B,
      "b3", sign = -1)
    val prior = Files.createTempDirectory("hist").toString + "/prior"
    HistogramMaintenance.build(b0.unionByName(b1), col("v"), Lo, W, B, prior)
    assert(countsOf(store) === countsOf(prior), "retraction did not invert")
  }

  test("streamed store converges; estimateLe brackets the true count") {
    val base = Files.createTempDirectory("hist_stream").toString
    val (src, store) = (s"$base/src", s"$base/store")
    val f1 = (1 to 80).map(i => (i * 7 % 113).toDouble).toDF("v")
    val f2 = (1 to 40).map(i => (i * 31 % 97).toDouble).toDF("v")
    f1.coalesce(1).write.parquet(src)
    f2.coalesce(1).write.mode("append").parquet(src)

    HistogramMaintenance.build(spark.emptyDataset[Double].toDF("v"),
      col("v"), Lo, W, B, store)
    HistogramMaintenance.start(spark, src, f1.schema, store, "v", Lo, W, B)
      .awaitTermination(120000)

    val full = s"$base/full"
    HistogramMaintenance.build(f1.unionByName(f2), col("v"), Lo, W, B, full)
    assert(countsOf(store) === countsOf(full), "streamed != batch-built")

    val vs = ((1 to 80).map(i => (i * 7 % 113).toDouble) ++
      (1 to 40).map(i => (i * 31 % 97).toDouble))
    for (x <- Seq(-3L, 0L, 9L, 10L, 55L, 96L, 112L, 120L, 500L)) {
      val (lo, hi) = HistogramMaintenance.estimateLe(
        spark, store, x, Lo, W, B)
      val actual = vs.count(_ <= x).toLong
      assert(lo <= actual && actual <= hi,
        s"x=$x actual=$actual not in [$lo,$hi]")
    }
  }
}
