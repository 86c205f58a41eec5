package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming experiment readout COMPOSED from the maintained stores —
  * the streamed twin of the batch `q_ab_test`: a [[CdcMaintenance]]
  * user-conversion store folded per micro-batch, then the exact 2×2
  * chi-square alert computed from the store's per-variant rollup
  * alone (never rescanning event history). This is the sequential
  * readout an experimentation system actually serves: "as of this
  * batch, what are the cumulative proportions, is the lift
  * significant at milli-precision, and does the split itself pass the
  * sample-ratio-mismatch guard".
  *
  * The monotone-OR trick: per-user conversion is "has EVER converted"
  * — an OR across batches — and CdcMaintenance keeps the row with the
  * greatest sequence, so setting `seq = conv` makes the store's
  * latest-wins guard compute exactly that OR (a later non-converting
  * sighting of a converted user carries seq 0 < 1 and loses; replays
  * tie and lose to the store). Out-of-order and at-least-once safety
  * are inherited from the store, not re-proven here.
  *
  * Bootstrap: the first committed batch merges into the empty store,
  * which KEEPS the delta's op/seq — a buildStore-style Long.MinValue
  * bootstrap would let any later sighting outrank (and revoke) a
  * first-batch conversion, breaking the OR. A replayed bootstrap epoch
  * re-runs as a normal merge, ties lose to the store, and the readout
  * converges.
  *
  * Scale shape per batch: one user-grain map-side rollup of the
  * batch, a bucket-pruned store merge (CdcMaintenance's shape), then
  * the alert reads the store once — variant rollup is 2 rows, the
  * alert row is 1, written per-batch-partition with dynamic overwrite
  * (replays rewrite in place; the [[DriftMonitor]] alert-log guard).
  */
object ExperimentMonitor {

  private val Buckets = 32

  /** Per-user conversion delta of one events batch, in the store's
    * changelog shape: seq = conv encodes the monotone OR (see the
    * object doc). Conversion = ≥1 HIGH-VALUE purchase (value ≥ 90) —
    * ONE definition shared with the batch `q_ab_test` via
    * [[conversionFlag]]. */
  def conversions(batch: DataFrame): DataFrame =
    batch.groupBy(col("user_id"))
      .agg(max(conversionFlag).as("conv"))
      .withColumn("variant", col("user_id") % 2)
      .withColumn("op", lit("U"))
      .withColumn("seq", col("conv"))

  /** The row-level conversion predicate (0/1). */
  def conversionFlag: org.apache.spark.sql.Column =
    when(col("event_type") === "purchase" && col("value") >= 90.0, 1L)
      .otherwise(0L)

  /** The exact 2×2 chi-square report over a (variant, conv) user
    * frame — the ONE definition `q_ab_test` publishes and this
    * monitor serves per epoch (see q_ab_test's header for the
    * integer-exactness and overflow discipline). */
  def abReport(users: DataFrame): DataFrame =
    users.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
      .agg(
        sum(when(col("variant") === 0, col("n"))).as("n0"),
        sum(when(col("variant") === 0, col("k"))).as("k0"),
        sum(when(col("variant") === 1, col("n"))).as("n1"),
        sum(when(col("variant") === 1, col("k"))).as("k1"))
      .withColumn("adbc",
        expr("cast(k1 as decimal(38,0)) * (n0 - k0)" +
          " - cast(n1 - k1 as decimal(38,0)) * k0"))
      .withColumn("chi2_num",
        expr("cast(n0 + n1 as decimal(38,0)) * adbc * adbc"))
      .withColumn("chi2_den",
        expr("cast(n1 as decimal(38,0)) * n0 * (k0 + k1)" +
          " * (n0 - k0 + n1 - k1)"))
      .select(col("n0"), col("k0"), col("n1"), col("k1"),
        expr("k0 * 10000 div n0").as("p0_bp"),
        expr("k1 * 10000 div n1").as("p1_bp"),
        expr("k1 * 10000 div n1 - k0 * 10000 div n0").as("lift_bp"),
        expr("(chi2_num * 1000) div nullif(chi2_den, 0)")
          .as("chi2_milli"),
        expr("cast((chi2_num * 1000) div nullif(chi2_den, 0)" +
          " >= 3841 as long)").as("significant"),
        expr("(cast(n0 - n1 as decimal(38,0)) * (n0 - n1) * 1000)" +
          " div (n0 + n1)").as("srm_chi2_milli"),
        expr("cast((cast(n0 - n1 as decimal(38,0)) * (n0 - n1)" +
          " * 1000) div (n0 + n1) >= 3841 as long)").as("srm_flag"))

  /** One cumulative alert row for `batchId` from the current store. */
  def alertRow(spark: SparkSession, storeDir: String,
      batchId: Long): DataFrame =
    abReport(CdcMaintenance.read(spark, storeDir, Seq("user_id"))
        .select("variant", "conv"))
      .withColumn("batch", lit(batchId))

  /** Maintain the conversion store from the parquet events stream at
    * `sourceDir` and append one cumulative alert row per micro-batch
    * to `alertDir`. */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
      storeDir: String,
      alertDir: String): StreamingQuery =
    graft.ops.MergeableStore.stream(spark, sourceDir, schema,
        s"$alertDir-__checkpoint") {
      (batch, id) =>
        val s = batch.sparkSession
        CdcMaintenance.mergeBatch(s, storeDir,
          conversions(batch.select("user_id", "event_type", "value")),
          Seq("user_id"), Buckets)
        alertRow(s, storeDir, id)
          .coalesce(1)
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch")
          .parquet(alertDir)
    }

  /** The alert log, one cumulative readout per folded micro-batch. */
  def alerts(spark: SparkSession, alertDir: String): DataFrame =
    spark.read.parquet(alertDir)
}
