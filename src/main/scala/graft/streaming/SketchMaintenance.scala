package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.MergeableStore

/** Incrementally-maintained Count-Min sketch: the streaming twin of
  * `q_countmin_heavy`. CMS is a LINEAR sketch — cell(corpus ∪ delta)
  * = cell(corpus) + cell(delta) — so an append-only stream maintains
  * the frequency summary from per-batch cell tables alone: each
  * micro-batch partial-aggregates to ≤ d·w cell rows on the
  * executors, folds into the dense 4×256 store with one broadcast
  * join, and no history is ever rescanned. Retraction is the same
  * fold with negative counts (linearity again). At 100 TB this is
  * the always-fresh "how often has key X appeared so far" service a
  * curation loop needs (admission throttles, per-domain caps)
  * without an exact key-space aggregation per refresh.
  *
  * The store is DENSE (all d·w rows, zero cells materialized) so its
  * size is a constant 1024 rows independent of data, every row
  * carries the idempotency stamp, and probe joins never miss.
  * Idempotency follows [[RollupMaintenance.mergeDelta]]'s stamp
  * guard: a retried epoch sees its own stamp and rewrites the store
  * unchanged instead of double-folding.
  *
  * Hash/layout constants are shared with q_countmin_heavy (the
  * cross-engine 60-bit md5 construction keyed "i:key"), so a
  * streamed store is bit-comparable to the batch-built sketch.
  */
object SketchMaintenance {

  val Depth = 4
  val Width = 256L

  /** Row hash i of a key — q_countmin_heavy's construction. */
  def cellHash(i: Int, key: Column): Column =
    pmod(conv(md5(concat(lit(s"$i:"), key.cast("string")))
      .substr(1, 15), 16, 10).cast("long"), lit(Width))

  private def coords(key: Column): Column =
    array((0 until Depth).map { i =>
      struct(lit(i).as("i"), cellHash(i, key).as("b"))
    }: _*)

  /** One frame reduced to its SPARSE cell table (i, b, c) — partial
    * aggregation bounds what reaches the exchange at ≤ d·w rows per
    * partition regardless of input size. */
  def sparseCells(df: DataFrame, key: Column): DataFrame =
    df.select(explode(coords(key)).as("ib"))
      .groupBy(col("ib.i").as("i"), col("ib.b").as("b"))
      .agg(count(lit(1)).as("c"))

  /** The dense d×w spine (generated literal dim, never read). */
  private def spine(spark: SparkSession): DataFrame =
    spark.range(Depth).select(col("id").cast("int").as("i"))
      .crossJoin(spark.range(Width).select(col("id").as("b")))

  /** Densify a sparse cell table to all d·w rows (absent cell = 0). */
  def dense(spark: SparkSession, sparse: DataFrame): DataFrame =
    spine(spark).join(sparse, Seq("i", "b"), "left")
      .select(col("i"), col("b"), coalesce(col("c"), lit(0L)).as("c"))

  /** Initial store build (empty `df` yields the all-zero sketch). */
  def build(df: DataFrame, key: Column, storeDir: String,
      stamp: String = "__init"): Unit =
    MergeableStore.publish(storeDir, dense(df.sparkSession, sparseCells(df, key))
      .withColumn("last_batch", lit(stamp)).coalesce(1))

  /** Fold one batch's cells into the store (the all-zero sketch before
    * the first publish). `sign` = +1 appends, -1 retracts (cell-wise,
    * by linearity). */
  def mergeDelta(spark: SparkSession, storeDir: String, delta: DataFrame,
      key: Column, batchId: String, sign: Int = 1): Unit = {
    require(batchId.nonEmpty && batchId != "__init", s"bad batchId $batchId")
    require(sign == 1 || sign == -1, s"bad sign $sign")
    val zero = spine(spark)
      .select(col("i"), col("b"), lit(0L).as("c"), lit("__init").as("last_batch"))
    MergeableStore.merge(spark, storeDir, zero) { base =>
      val d = sparseCells(delta, key)
        .select(col("i"), col("b"), col("c").as("dc"))
      // dense store ⟕ sparse delta: ≤ d·w rows each side, broadcast
      Some(base.join(broadcast(d), Seq("i", "b"), "left")
        .select(col("i"), col("b"),
          when(col("last_batch") === batchId, col("c"))
            .otherwise(col("c") +
              lit(sign.toLong) * coalesce(col("dc"), lit(0L))).as("c"),
          lit(batchId).as("last_batch"))
        .coalesce(1))
    }
  }

  /** Maintain `storeDir` from the parquet stream at `sourceDir`. */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
      storeDir: String,
      keyName: String): StreamingQuery =
    MergeableStore.stream(spark, sourceDir, schema, s"$storeDir-__checkpoint") {
      (batch, id) => mergeDelta(batch.sparkSession, storeDir, batch,
        col(keyName), s"b$id")
    }

  def read(spark: SparkSession, storeDir: String): DataFrame =
    MergeableStore.read(spark, storeDir).select("i", "b", "c", "last_batch")

  /** Estimated count per probe key: min over the key's d cells —
    * probe keys fan out to d coordinate rows and join the 1024-row
    * store (broadcast); estimates never undershoot the true count. */
  def probe(spark: SparkSession, storeDir: String, keys: DataFrame,
      key: Column): DataFrame = {
    val cells = MergeableStore.read(spark, storeDir).select("i", "b", "c")
    keys.select(key.as("key"), explode(coords(key)).as("ib"))
      .select(col("key"), col("ib.i").as("i"), col("ib.b").as("b"))
      .join(broadcast(cells), Seq("i", "b"))
      .groupBy("key").agg(min(col("c")).as("est"))
  }
}
