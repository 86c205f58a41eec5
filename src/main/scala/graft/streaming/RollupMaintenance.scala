package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.MergeableStore

/** Incrementally-maintained rollup (streaming materialized view): the
  * hourly event rollup of [[EventsStream.hourlyRollup]] kept
  * up-to-date by a streaming query, so dashboard reads hit a tiny
  * pre-aggregated parquet table instead of re-scanning the event log.
  *
  * Mechanics: a WATERMARKED streaming aggregation in update mode
  * emits, per micro-batch, only the (window, type) groups that
  * changed; foreachBatch publishes exactly those groups' partitions
  * as a new [[MergeableStore]] version (directory-per-(hour, type)
  * layout; every other partition keeps its version). Properties:
  *
  *   - incremental: a batch touching 2 hours rewrites 2 small
  *     partitions, never the table;
  *   - late-data-correct within the watermark: a late event updates
  *     its window's group, which re-emits and replaces that
  *     partition with the corrected aggregate;
  *   - idempotent under retry: a replayed epoch re-emits the same
  *     group rows and replaces the same partitions — no
  *     double-counting ([[CurationIngest]]'s batch-keyed variant of
  *     the same principle);
  *   - bounded state: watermark expiry drops closed windows from the
  *     streaming state store.
  *
  * Scale: state and writes are proportional to ACTIVE windows x
  * types, not to events; the store is partition-pruned on read.
  */
object RollupMaintenance {

  /** Partition column value for a window start (hour granularity). */
  private val hourCol = date_format(col("w.start"), "yyyy-MM-dd-HH")

  /** The store is partitioned by the FULL group key (hour,
    * event_type): replacement granularity must match group
    * granularity, or a batch carrying only one changed type would wipe
    * the hour's other types. */
  private val Parts = Seq("hour", "event_type")

  /** One micro-batch of changed groups → publish their partitions;
    * partitions absent from the batch keep their version. */
  def upsertBatch(changed: DataFrame, storeDir: String): Unit =
    MergeableStore.publish(storeDir, changed, Parts)

  /** The rollup aggregation in store shape — shared by the streaming
    * maintainer, the batch store builder, and the batch delta merge
    * (one definition, so the three paths cannot drift). */
  private def rollupShape(src: DataFrame): DataFrame = src
    .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
    .agg(count(lit(1)).as("n_events"),
      sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
    .select(hourCol.as("hour"), col("event_type"),
      col("n_events"), col("total_value"))

  /** Batch-build the store from an event frame (initial load). The
    * batch-maintained store carries a `last_batch` stamp column —
    * the per-partition idempotency guard [[mergeDelta]] reads. */
  def buildStore(events: DataFrame, storeDir: String,
      stamp: String = "__init"): Unit =
    upsertBatch(rollupShape(events)
      .withColumn("last_batch", lit(stamp)), storeDir)

  /** Batch twin of the streaming maintenance: fold a LATE/NEW events
    * delta into the store (the empty store before the first publish —
    * so a pipeline's first batch is the bootstrap) without re-scanning
    * the event log. Only the delta's exact (hour, type) groups are
    * read back, merged, and republished — a partition the delta never
    * mentions is neither read nor rewritten (spec-proven by file
    * listing, including a touched-hour/other-type partition).
    *
    * IDEMPOTENT PER PARTITION under retry via the `batchId` stamp:
    * each written row records the batch that produced it, and the
    * merge KEEPS a base row whose stamp already equals this batchId
    * instead of re-adding the delta, so a retry after success is a
    * no-op republish of identical rows. Same principle as
    * [[CurationIngest]]'s batch-keyed ledger.
    *
    * Merge math is exact: counts add as BIGINTs, totals re-enter
    * DECIMAL(12,2) before adding (the store's double is an exact
    * image of a 2-dp decimal at these magnitudes), so the result is
    * bit-equal to a full recompute (spec-proven). The merged frame
    * holds only the delta's affected groups — hours × types rows,
    * aggregate-class, never event-class. */
  def mergeDelta(spark: SparkSession, storeDir: String,
      delta: DataFrame, batchId: String): Unit = {
    require(batchId.nonEmpty && batchId != "__init", s"bad batchId $batchId")
    // ONE materialization of the delta aggregation: both the
    // touched-partition list and the merge read the persisted frame
    val d = rollupShape(delta).persist()
    val zero = MergeableStore.empty(spark, "n_events bigint, " +
      "total_value double, last_batch string, hour string, event_type string")
    // the store is partitioned by the group key, so the touched
    // partitions hold exactly the delta's groups
    try MergeableStore.mergePartitions(spark, storeDir, zero, Parts, d) { store =>
      val base = store
        .select(col("hour"), col("event_type"),
          col("n_events").as("b_n"), col("total_value").as("b_t"),
          col("last_batch"))
      // full outer: the delta can open brand-new (hour, type) groups
      val dec = lit(0).cast("decimal(12,2)")
      Some(base.join(
          d.select(col("hour"), col("event_type"),
            col("n_events").as("d_n"), col("total_value").as("d_t")),
          Seq("hour", "event_type"), "full_outer")
        .select(col("hour"), col("event_type"),
          when(col("last_batch") === batchId, col("b_n"))
            .otherwise(coalesce(col("b_n"), lit(0L)) +
              coalesce(col("d_n"), lit(0L))).as("n_events"),
          when(col("last_batch") === batchId, col("b_t"))
            .otherwise((coalesce(col("b_t").cast("decimal(12,2)"), dec) +
              coalesce(col("d_t").cast("decimal(12,2)"), dec))
              .cast("double")).as("total_value"),
          lit(batchId).as("last_batch")))
    } finally d.unpersist()
  }

  /** Start maintaining `storeDir` from the parquet event stream at
    * `sourceDir`. */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
      storeDir: String,
      watermark: String = "2 hours"): StreamingQuery =
    MergeableStore.stream(spark, sourceDir, schema, s"$storeDir-__checkpoint",
        src => rollupShape(src.withWatermark("ts", watermark)),
        outputMode = "update") { // emit only changed groups per batch
      (batch, _) => upsertBatch(batch, storeDir)
    }

  /** The store read back in [[EventsStream.hourlyRollup]]'s shape. */
  def read(spark: SparkSession, storeDir: String): DataFrame =
    MergeableStore.read(spark, storeDir)
      .select(concat(
          regexp_replace(col("hour"), "-(\\d\\d)$", " $1"), lit(":00:00"))
        .as("hour_start"),
        col("event_type"), col("n_events"), col("total_value"))
}
