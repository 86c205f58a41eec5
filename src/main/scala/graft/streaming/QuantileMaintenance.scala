package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.{MergeableStore, QuantileSketch}
import graft.ops.QuantileSketch.QSketch

/** Incrementally-maintained quantile store: the streaming twin of the
  * [[graft.ops.QuantileSketch]] level-sampling sketch. Because the
  * sketch is an exact function of the input multiset and merge is
  * bit-exact (sketch(A ∪ B) = merge(sketch(A), sketch(B))), a
  * micro-batch pipeline maintains an always-fresh quantile summary
  * from per-batch sketches alone — each batch contributes ≤k rows,
  * no history is ever rescanned, and the streamed store equals the
  * one-shot batch build over the union corpus bit-for-bit
  * (spec-pinned, including under epoch replay).
  *
  * Store layout: one parquet of (h, v) item rows PLUS a sentinel
  * meta row (`h = -1`) carrying (level, total) — the sentinel keeps
  * meta addressable even for an empty sketch, and every row carries
  * the `last_batch` idempotency stamp ([[SketchMaintenance]]'s
  * guard: a replayed epoch sees its own stamp and rewrites the store
  * unchanged instead of double-folding).
  *
  * Scale shape per batch: ONE distributed pass reduces the batch to
  * its ≤k-row sketch ([[QuantileSketch.sketchRows]] — the same plan
  * the hash-gated query uses); the fold into the stored sketch is a
  * ≤2k-item driver-side merge (bounded driver state, the 1024-bucket
  * LM class), published from driver-local rows.
  */
object QuantileMaintenance {

  /** Sentinel h for the meta row (real priorities are ≥ 0). */
  val MetaH = -1L

  /** A sketch in store rows, stamped. */
  private def storeRows(spark: SparkSession, sk: QSketch,
      stamp: String): DataFrame = {
    import spark.implicits._
    val rows = (MetaH, sk.level.toLong, sk.total) +:
      sk.canonical.map { case (h, v) => (h, v, 0L) }
    rows.toDF("h", "v", "total")
      .withColumn("last_batch", lit(stamp)).coalesce(1)
  }

  /** Store rows back to a sketch value (+ its stamp). */
  private def decode(store: DataFrame, k: Int): (QSketch, String) = {
    val rows = store.select("h", "v", "total", "last_batch").collect()
    val stamp = rows.head.getString(3)
    val meta = rows.find(_.getLong(0) == MetaH)
      .getOrElse(sys.error("quantile store has no meta row"))
    val items = rows.filter(_.getLong(0) != MetaH)
      .map(r => (r.getLong(0), r.getLong(1))).toVector
    (QSketch(k, meta.getLong(1).toInt, meta.getLong(2), items), stamp)
  }

  /** Read the store back as a sketch value (+ its stamp). */
  def readSketch(spark: SparkSession, storeDir: String,
      k: Int = QuantileSketch.DefaultK): (QSketch, String) =
    decode(MergeableStore.read(spark, storeDir), k)

  /** The stored sketch as a [[QuantileSketch.sketchRows]]-shaped frame
    * (v, h, lstar, n) — what lets the maintained store SERVE derived
    * statistics directly: `Histogram.sketchBoundaries(sketchFrame(...))`
    * yields equi-depth boundaries from the always-fresh ≤k-row store
    * with no rescan of history (spec-pinned equal to the boundaries of
    * the one-shot batch-built sketch, because streamed == batch-built
    * holds for the sketch itself). */
  def sketchFrame(spark: SparkSession, storeDir: String,
      k: Int = QuantileSketch.DefaultK): DataFrame = {
    val (sk, _) = readSketch(spark, storeDir, k)
    import spark.implicits._
    sk.canonical.map { case (h, v) => (v, h, sk.level.toLong, sk.total) }
      .toDF("v", "h", "lstar", "n")
  }

  /** Distributed batch → sketch value: one pass + ≤k collected rows. */
  def sketchOf(rows: DataFrame, k: Int = QuantileSketch.DefaultK): QSketch = {
    val collected = QuantileSketch.sketchRows(rows, k)
      .select("v", "h", "lstar", "n").collect()
    if (collected.isEmpty) QSketch.empty(k)
    else QSketch(k, collected.head.getLong(2).toInt,
      collected.head.getLong(3),
      collected.map(r => (r.getLong(1), r.getLong(0))).toVector)
  }

  /** Initial store build (empty `rows` yields the empty sketch). */
  def build(rows: DataFrame, storeDir: String,
      k: Int = QuantileSketch.DefaultK, stamp: String = "__init"): Unit =
    MergeableStore.publish(storeDir,
      storeRows(rows.sparkSession, sketchOf(rows, k), stamp))

  /** Fold one batch of (v, h) rows into the store (the empty sketch
    * before the first publish) — idempotent per batchId via the stamp
    * guard. */
  def mergeDelta(spark: SparkSession, storeDir: String, delta: DataFrame,
      batchId: String, k: Int = QuantileSketch.DefaultK): Unit = {
    require(batchId.nonEmpty && batchId != "__init", s"bad batchId $batchId")
    MergeableStore.merge(spark, storeDir,
        storeRows(spark, QSketch.empty(k), "__init")) { store =>
      val (stored, stamp) = decode(store, k)
      if (stamp == batchId) None
      else Some(storeRows(spark, stored.merge(sketchOf(delta, k)), batchId))
    }
  }

  /** Maintain `storeDir` from the parquet stream at `sourceDir`;
    * `vExpr`/`keyExpr` are SQL expressions over the source columns
    * producing the sketched value and the unique hash key. */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
      storeDir: String,
      vExpr: String, keyExpr: String,
      k: Int = QuantileSketch.DefaultK): StreamingQuery =
    MergeableStore.stream(spark, sourceDir, schema, s"$storeDir-__checkpoint") {
      (batch, id) =>
        val rows = batch.select(
          expr(vExpr).cast("long").as("v"),
          QuantileSketch.hash60(expr(keyExpr).cast("string")).as("h"))
        mergeDelta(batch.sparkSession, storeDir, rows, s"b$id", k)
    }
}
