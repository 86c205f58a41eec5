package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming distribution-drift monitor COMPOSED from the maintained
  * stores: two [[HistogramMaintenance]] equi-width histograms (a
  * reference split and a current split of the same stream) folded per
  * micro-batch, then an exact two-sample KS alert computed from the
  * 2·B store rows alone — the streamed twin of the batch `q_ks_drift`
  * monitor, never rescanning history.
  *
  * Exactness: the KS statistic over BUCKETED data is
  * max_b |cumA(b)·n2 − cumB(b)·n1| / (n1·n2), kept in cross-multiplied
  * BIGINTs exactly like q_ks_drift (no division until the final
  * statistic, alert threshold compared in integers). When the grid
  * resolves every distinct value (width 1 over an integral domain)
  * the bucketed statistic IS the raw two-sample KS — DriftMonitorSpec
  * pins that identity; at coarser grids it is KS over the binned
  * distributions, the standard production monitor.
  *
  * Scale: per batch the stream folds two ≤B-row sparse deltas
  * (map-side partial) and the alert reads 2·B store rows — the
  * cumulative window runs over the B-row dense frame, the bounded
  * sketch-frame class (never the data). The alert log appends ONE row
  * per batch, written per-batch-partition with dynamic overwrite so a
  * replayed epoch rewrites its own row instead of duplicating it
  * (same guard class as the stores themselves).
  */
object DriftMonitor {

  /** Exact two-sample KS from two sparse/dense (bucket, c) count
    * frames over a shared `buckets`-bucket grid. One row:
    * (n1, n2, d_num, ks_at_bucket, ks) — d_num = max |cumA·n2 −
    * cumB·n1| (BIGINT), argmax broken to the smallest bucket,
    * ks = d_num/(n1·n2) (0.0 when either side is empty). */
  def ksFromCounts(spark: SparkSession, a: DataFrame, b: DataFrame,
      buckets: Int): DataFrame = {
    val d = HistogramMaintenance.dense(spark, a, buckets)
      .withColumnRenamed("c", "ca")
      .join(HistogramMaintenance.dense(spark, b, buckets)
        .withColumnRenamed("c", "cb"), "bucket")
    // B-row frame: the single-partition cumulative window is bounded
    // by the grid size, never the data
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = d
      .withColumn("cum_a", sum(col("ca")).over(w))
      .withColumn("cum_b", sum(col("cb")).over(w))
      .withColumn("n1", sum(col("ca")).over(Window.partitionBy()))
      .withColumn("n2", sum(col("cb")).over(Window.partitionBy()))
    cum
      .withColumn("d_num",
        abs(col("cum_a") * col("n2") - col("cum_b") * col("n1")))
      .agg(
        max(col("n1")).as("n1"),
        max(col("n2")).as("n2"),
        max(col("d_num")).as("d_num"),
        min_by(col("bucket"),
          struct((-col("d_num")).as("nd"), col("bucket").as("b")))
          .as("ks_at_bucket"))
      .withColumn("ks",
        when(col("n1") > 0 && col("n2") > 0,
          col("d_num").cast("double") /
            (col("n1") * col("n2")).cast("double"))
          .otherwise(lit(0.0)))
      .select("n1", "n2", "d_num", "ks_at_bucket", "ks")
  }

  /** [[ksFromCounts]] over two MAINTAINED stores (the monitor's
    * serving read: 2·B rows, no history). */
  def ksFromStores(spark: SparkSession, storeA: String, storeB: String,
      buckets: Int): DataFrame =
    ksFromCounts(spark,
      HistogramMaintenance.read(spark, storeA).select("bucket", "c"),
      HistogramMaintenance.read(spark, storeB).select("bucket", "c"),
      buckets)

  /** One alert row for `batchId` from the current stores, drift
    * flagged by the INTEGER comparison d_num·1000 ≥ thrPermille·n1·n2
    * (exact — no float threshold in the decision). */
  def alertRow(spark: SparkSession, storeA: String, storeB: String,
      buckets: Int, thrPermille: Long, batchId: Long): DataFrame =
    ksFromStores(spark, storeA, storeB, buckets)
      .withColumn("batch", lit(batchId))
      .withColumn("drift",
        col("d_num") * 1000 >= lit(thrPermille) * col("n1") * col("n2"))

  /** Maintain both split histograms from the parquet stream at
    * `sourceDir` and append one alert row per micro-batch to
    * `alertDir` (hive-partitioned by batch; replay rewrites in
    * place). `splitCol` routes rows: value `refValue` → store A
    * (reference), everything else → store B (current). */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
      storeA: String, storeB: String, alertDir: String,
      splitCol: String, refValue: String, valueName: String,
      lo: Long, width: Long, buckets: Int,
      thrPermille: Long): StreamingQuery =
    graft.ops.MergeableStore.stream(spark, sourceDir, schema,
        s"$alertDir-__checkpoint") {
      (batch, id) =>
        val s = batch.sparkSession
        HistogramMaintenance.mergeDelta(s, storeA,
          batch.filter(col(splitCol) === refValue), col(valueName),
          lo, width, buckets, s"b$id")
        HistogramMaintenance.mergeDelta(s, storeB,
          batch.filter(col(splitCol) =!= refValue), col(valueName),
          lo, width, buckets, s"b$id")
        alertRow(s, storeA, storeB, buckets, thrPermille, id)
          .coalesce(1)
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch")
          .parquet(alertDir)
    }

  /** The alert log, one row per folded micro-batch. */
  def alerts(spark: SparkSession, alertDir: String): DataFrame =
    spark.read.parquet(alertDir)
}
