package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ext.PipelineOps

/** Streaming training-data curation ingest: the micro-batch form of
  * `q_training_pipeline` — documents arrive as files, each batch is
  * scored (quality + language agreement), deduplicated within the
  * batch AND against everything already ingested, and survivors are
  * appended to the curated store.
  *
  * Cross-batch dedup is a `left_anti` join of the batch against the
  * accumulated content-hash ledger. First-seen wins — the
  * streaming-native keeper rule (a global min-doc_id keeper is
  * unknowable while later batches are still arriving). At scale the
  * ledger is a compact (hash)-only table, hash-partitioned; the
  * anti-join is one shuffle on uniform 128-bit keys, and the batch
  * side is micro-batch-sized. State never lives in executor memory —
  * this is why foreachBatch + a ledger table beats `dropDuplicates`
  * streaming state for an unbounded corpus.
  *
  * Exactly-once effect under retry: foreachBatch is at-least-once, so
  * both sinks are keyed by the engine's `batchId` — each micro-batch
  * OVERWRITES its own `batch_id=N` partition of the curated store and
  * of the ledger, and the anti-join excludes the current batch's own
  * ledger partition. A retried epoch therefore recomputes the same
  * survivor set (its half-written partitions are ignored by the
  * dedup and then atomically replaced), instead of re-appending
  * duplicates — the failure mode a naive Append-mode pair has when a
  * crash lands between the two writes. Batch N+1 never runs before
  * N's checkpoint commits, so cross-batch ordering is preserved.
  */
object CurationIngest {

  /** One micro-batch: score, filter, dedup (in-batch then vs ledger),
    * then overwrite this batch's `batch_id=N` partition of `outDir`
    * and `ledgerDir` with the survivors / their hashes (idempotent
    * under foreachBatch retry — see class doc). Exposed for direct
    * testing; [[start]] wires it into foreachBatch. */
  def processBatch(spark: SparkSession, batch: DataFrame,
      outDir: String, ledgerDir: String, batchId: Long): Unit = {
    val scored = PipelineOps.curationScore(batch)
      .filter(col("quality") >= 0.5 && col("lang_pred") === col("lang"))
    // in-batch keeper: min doc_id per hash (deterministic)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy("doc_id")
    val inBatch = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    // dedup against every PRIOR batch's hashes; a retry's own
    // half-committed partition must not mask its recomputation
    val fresh = BatchLedger.readOtherBatches(spark, ledgerDir, batchId,
        inBatch.select("content_hash").schema) match {
      case Some(seen) => inBatch.join(seen, Seq("content_hash"), "left_anti")
      case None => inBatch
    }
    val out = fresh.select("doc_id", "lang", "quality", "content_hash").persist()
    try {
      // ledger first: if we crash between the writes, the hashes are
      // already durable and the retry (or a reader) can reconcile;
      // both writes replace the batch partition, so replays converge
      out.select("content_hash")
        .write.mode(SaveMode.Overwrite).parquet(batchPath(ledgerDir, batchId))
      out.drop("content_hash")
        .write.mode(SaveMode.Overwrite).parquet(batchPath(outDir, batchId))
    } finally out.unpersist()
  }

  private def batchPath(dir: String, batchId: Long) = s"$dir/batch_id=$batchId"

  /** File-stream ingest over a parquet directory (AvailableNow for
    * replay harnesses; a production run would use a continuous
    * trigger). */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
      outDir: String,
      ledgerDir: String): StreamingQuery =
    graft.ops.MergeableStore.stream(spark, sourceDir, schema, s"$outDir-__checkpoint") {
      (batch, batchId) => processBatch(spark, batch, outDir, ledgerDir, batchId)
    }
}
