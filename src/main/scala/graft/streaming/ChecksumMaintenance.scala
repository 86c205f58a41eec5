package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.MergeableStore

/** Incrementally-maintained table fingerprint: the streaming twin of
  * `q_checksum_delta`. The fingerprint is (row count, bit_xor of the
  * 60-bit md5-prefix row hash) — and because XOR is a commutative
  * group, checksum(base ∪ delta) = xor(checksum(base),
  * checksum(delta)) and removing rows is the SAME operation (x^x=0).
  * So an append-only (or retractable) table's fingerprint maintains
  * from per-batch fingerprints alone: each micro-batch reduces to ONE
  * row on the executors, and the store is a one-row parquet — no
  * history is ever rescanned, which at 100 TB is the difference
  * between a continuous reconcile guard and a nightly full-table
  * scan. Downstream, two sides compare fingerprints (q_table_checksum
  * shape) and only a mismatch triggers q_reconcile's row-level diff.
  *
  * Idempotency follows [[RollupMaintenance.mergeDelta]]'s stamp
  * guard: the store row records the last folded batch id; a retried
  * epoch sees its own stamp and rewrites the store unchanged instead
  * of double-folding. (A mid-write crash loses only the new version,
  * not the source batch — the retry re-folds from the pre-crash
  * version, which [[MergeableStore]] publishes beside, never over.)
  */
object ChecksumMaintenance {

  /** The cross-engine 60-bit row hash (q_kmv_distinct construction). */
  def rowHash(cols: Seq[Column]): Column =
    conv(md5(concat_ws("|", cols: _*)).substr(1, 15), 16, 10).cast("long")

  /** One frame reduced to its (n_rows, xor60) fingerprint row. */
  def fingerprint(df: DataFrame, cols: Seq[Column]): DataFrame =
    df.select(rowHash(cols).as("h"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(expr("bit_xor(h)"), lit(0L)).as("xor60"))

  /** Initial store build (or first-batch create with a real stamp). */
  def build(df: DataFrame, cols: Seq[Column], storeDir: String,
      stamp: String = "__init"): Unit =
    MergeableStore.publish(storeDir,
      fingerprint(df, cols).withColumn("last_batch", lit(stamp)).coalesce(1))

  /** Fold one batch's fingerprint into the store (the empty-table
    * fingerprint before the first publish). `sign` = +1 for appended
    * rows, -1 for retracted rows (the xor fold is identical — only the
    * count direction differs: x ^ x = 0 removes). */
  def mergeDelta(spark: SparkSession, storeDir: String, delta: DataFrame,
      cols: Seq[Column], batchId: String, sign: Int = 1): Unit = {
    require(batchId.nonEmpty && batchId != "__init", s"bad batchId $batchId")
    require(sign == 1 || sign == -1, s"bad sign $sign")
    val zero = spark.range(1).select(lit(0L).as("n_rows"), lit(0L).as("xor60"),
      lit("__init").as("last_batch"))
    MergeableStore.merge(spark, storeDir, zero) { store =>
      val base = store.select(col("n_rows").as("b_n"), col("xor60").as("b_x"),
        col("last_batch"))
      val d = fingerprint(delta, cols)
        .select(col("n_rows").as("d_n"), col("xor60").as("d_x"))
      // one-row × one-row cross: both sides are fingerprints already
      Some(base.crossJoin(d)
        .select(
          when(col("last_batch") === batchId, col("b_n"))
            .otherwise(col("b_n") + lit(sign.toLong) * col("d_n"))
            .as("n_rows"),
          when(col("last_batch") === batchId, col("b_x"))
            .otherwise(col("b_x").bitwiseXOR(col("d_x"))).as("xor60"),
          lit(batchId).as("last_batch"))
        .coalesce(1))
    }
  }

  /** Maintain `storeDir` from the parquet stream at `sourceDir`.
    * `colNames` resolve against each micro-batch. */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
      storeDir: String,
      colNames: Seq[String]): StreamingQuery =
    MergeableStore.stream(spark, sourceDir, schema, s"$storeDir-__checkpoint") {
      (batch, id) => mergeDelta(batch.sparkSession, storeDir, batch,
        colNames.map(col), s"b$id")
    }

  def read(spark: SparkSession, storeDir: String): DataFrame =
    MergeableStore.read(spark, storeDir).select("n_rows", "xor60", "last_batch")
}
