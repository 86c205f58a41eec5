package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.MergeableStore

/** Incrementally-maintained EQUI-WIDTH histogram — the streaming twin
  * of `ops/Histogram`'s equi-depth statistic, completing the stats
  * story the way [[SketchMaintenance]] (CMS) twins `q_countmin_heavy`:
  *
  *   - equi-DEPTH boundaries are exact order statistics: the best
  *     selectivity bracket (width ≤ ⌈n/B⌉ by construction) but ranks
  *     shift under every append, so the statistic is ANALYZE-time —
  *     rebuild, never fold;
  *   - equi-WIDTH counts are a LINEAR sketch — count(corpus ∪ delta)
  *     = count(corpus) + count(delta) per bucket — so an append-only
  *     stream maintains them from per-batch partials alone, and
  *     retraction is the same fold with negative counts. The price is
  *     a data-dependent bracket (the straddling bucket's population
  *     replaces the ⌈n/B⌉ guarantee).
  *
  * Both statistics serve the same consumer: a range-predicate
  * cardinality bracket whose upper bound is CERTAIN, so a
  * histogram-licensed broadcast (`Histogram.broadcastIfRangeSmall`'s
  * contract) can never OOM — this store keeps that decision fresh
  * between ANALYZE runs without ever rescanning history.
  *
  * Store layout mirrors [[SketchMaintenance]]: DENSE (all B rows,
  * zero buckets materialized — constant size, probe joins never
  * miss), every row stamped with the last folded batch id so a
  * retried epoch rewrites the store unchanged instead of
  * double-folding ([[RollupMaintenance.mergeDelta]]'s guard).
  * Values outside [lo, lo+B·width) clamp into the edge buckets, so
  * the store never drops mass and the bracket stays certain.
  */
object HistogramMaintenance {

  /** Bucket of `v` over the fixed grid: clamp((v − lo) div width, 0,
    * buckets−1). Exact LONG arithmetic throughout — `div` is integral
    * division, and clamping below-lo values to 0 BEFORE dividing makes
    * truncation and floor coincide — so bucket assignment and
    * [[estimateLe]]'s exact-long edge math share one definition. (The
    * earlier double-division formulation could round a value past
    * 2^53 into the adjacent bucket, silently breaking the certain
    * est_lo/est_hi bracket.) */
  def bucketOf(v: Column, lo: Long, width: Long, buckets: Int): Column =
    least(
      call_function("div", greatest(v.cast("long") - lo, lit(0L)), lit(width)),
      lit(buckets - 1L))

  /** One frame reduced to its sparse (bucket, c) counts — partial
    * aggregation bounds what reaches the exchange at ≤ B rows per
    * partition regardless of input size. */
  def sparseCounts(df: DataFrame, v: Column, lo: Long, width: Long,
      buckets: Int): DataFrame =
    df.select(bucketOf(v, lo, width, buckets).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))

  private def spine(spark: SparkSession, buckets: Int): DataFrame =
    spark.range(buckets).select(col("id").as("bucket"))

  def dense(spark: SparkSession, sparse: DataFrame,
      buckets: Int): DataFrame =
    spine(spark, buckets).join(sparse, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("c"), lit(0L)).as("c"))

  /** Initial store build (empty `df` yields the all-zero store). */
  def build(df: DataFrame, v: Column, lo: Long, width: Long,
      buckets: Int, storeDir: String, stamp: String = "__init"): Unit =
    MergeableStore.publish(storeDir,
      dense(df.sparkSession, sparseCounts(df, v, lo, width, buckets), buckets)
        .withColumn("last_batch", lit(stamp)).coalesce(1))

  /** Fold one batch's counts into the store (the all-zero store before
    * the first publish); `sign` = −1 retracts. */
  def mergeDelta(spark: SparkSession, storeDir: String, delta: DataFrame,
      v: Column, lo: Long, width: Long, buckets: Int,
      batchId: String, sign: Int = 1): Unit = {
    require(batchId.nonEmpty && batchId != "__init", s"bad batchId $batchId")
    require(sign == 1 || sign == -1, s"bad sign $sign")
    val zero = spine(spark, buckets)
      .select(col("bucket"), lit(0L).as("c"), lit("__init").as("last_batch"))
    MergeableStore.merge(spark, storeDir, zero) { base =>
      val d = sparseCounts(delta, v, lo, width, buckets)
        .select(col("bucket"), col("c").as("dc"))
      Some(base.join(broadcast(d), Seq("bucket"), "left")
        .select(col("bucket"),
          when(col("last_batch") === batchId, col("c"))
            .otherwise(col("c") +
              lit(sign.toLong) * coalesce(col("dc"), lit(0L))).as("c"),
          lit(batchId).as("last_batch"))
        .coalesce(1))
    }
  }

  /** Certain bracket on rows with `value <= x` from the maintained
    * store: est_lo counts buckets wholly ≤ x, est_hi additionally
    * includes the straddling bucket. Clamping makes the EDGE buckets
    * unbounded (bucket 0 below, bucket B−1 above), so both are
    * treated as straddling everything on their open side: bucket B−1
    * never enters est_lo, and bucket 0 always enters est_hi — the
    * bracket stays certain even for thresholds outside the grid and
    * for clamped stragglers, at the price of a wider bracket there
    * (size the grid from TableStats min/max to keep edges empty).
    * One B-row scan — the sketch-row driver class. */
  def estimateLe(spark: SparkSession, storeDir: String, x: Long,
      lo: Long, width: Long, buckets: Int): (Long, Long) = {
    // bucket b covers [lo + b·width, lo + (b+1)·width); wholly ≤ x
    // iff its upper edge − 1 ≤ x
    val r = MergeableStore.read(spark, storeDir)
      .agg(
        sum(when(col("bucket") < (buckets - 1) &&
          lit(lo) + (col("bucket") + 1) * width - 1 <= x, col("c"))
          .otherwise(lit(0L))).as("lo_sum"),
        sum(when(col("bucket") === 0 ||
          lit(lo) + col("bucket") * width <= x, col("c"))
          .otherwise(lit(0L))).as("hi_sum"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  def read(spark: SparkSession, storeDir: String): DataFrame =
    MergeableStore.read(spark, storeDir)

  /** Maintain `storeDir` from the parquet stream at `sourceDir`. */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
      storeDir: String,
      valueName: String, lo: Long, width: Long,
      buckets: Int): StreamingQuery =
    MergeableStore.stream(spark, sourceDir, schema, s"$storeDir-__checkpoint") {
      (batch, id) => mergeDelta(batch.sparkSession, storeDir, batch,
        col(valueName), lo, width, buckets, s"b$id")
    }
}
