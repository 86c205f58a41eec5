package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructType}

/** Shared reader for batch-keyed ledger/index stores — the
  * `dir/batch_id=N` partition layout [[CurationIngest]] and
  * [[IncrementalNearDup]] both use for replay-idempotent state: each
  * epoch overwrites its own partition, and readers EXCLUDE the
  * current epoch's partition so a retry's half-committed data never
  * masks its recomputation. */
object BatchLedger {

  /** All rows from prior batches, read with `schema` — the row shape
    * the store's writer writes (no `batch_id`) — or None before the
    * first committed batch. The declared schema replaces a footer job
    * per read over the whole history, and keeps `mergeSchema`'s
    * semantics for a ledger whose row schema grew across eras (e.g.
    * VectorIngest adding n_index_rows): a column an older partition
    * lacks reads as null there, the audit-friendly semantics. */
  def readOtherBatches(spark: SparkSession, dir: String,
      excludeBatch: Long, schema: StructType): Option[DataFrame] = {
    val root = new java.io.File(dir)
    if (root.exists() && root.listFiles().exists(_.getName.startsWith("batch_id=")))
      Some(spark.read.schema(schema.add("batch_id", LongType))
        .option("basePath", dir).parquet(dir)
        .filter(col("batch_id") =!= excludeBatch)
        .drop("batch_id"))
    else None
  }
}
