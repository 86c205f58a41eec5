package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.{Fs, VectorIndex}

/** Continuous embedding ingest into the served IVF index — the
  * streaming twin of [[graft.ops.VectorIndex.mergeDelta]]: each
  * micro-batch of (vec_id, v) embeddings is assigned against the
  * FROZEN training centroids and appended into the bucket-partitioned
  * probe layout, so the index a query session opens
  * ([[graft.ops.VectorIndex.probe]]) is always the union of
  * everything ingested so far — without re-encoding or rewriting any
  * prior vector ("build once, probe many", held open under a growing
  * corpus; the continuous-crawl shape of embedding ingest at 100 TB).
  *
  * Exactly-once without a transaction log: admission is mergeDelta's
  * vec_id anti-join against the stored index, so a replayed epoch
  * (foreachBatch is at-least-once — a crash after the append but
  * before the checkpoint commit re-delivers the batch) re-appends
  * only the rows the crashed attempt did not land, and assignment
  * against fixed centroids is per-row deterministic — the converged
  * index is bit-identical to a one-shot batch build over the union
  * corpus (spec-pinned). The per-epoch ledger row is keyed by the
  * engine batchId and OVERWRITES its own partition (the
  * [[BatchLedger]] layout), so a replay rewrites it instead of
  * double-counting. `vec_id` must be unique per batch (the upstream
  * key contract; in-batch duplicates would race the first() pick
  * inside the assignment).
  *
  * Centroids are read from their materialized layout (the
  * `centroids/` artifact [[graft.ops.VectorIndex.buildPq]] writes)
  * per epoch — nlist rows, and reading INSIDE the batch binds the
  * frame to the batch's own session (a frame captured from the
  * stream-defining session must not leak into foreachBatch).
  *
  * Freshness/consistency: an open probe session lists index files at
  * resolution time, so it serves a consistent prefix of committed
  * epochs and picks up newer ones on re-open — the standard serving
  * contract for file-backed ANN indexes.
  *
  * Scale shape per batch: one broadcast of the nlist-row centroid
  * frame against the batch, one vec_id-pruned columnar scan of the
  * stored index for admission (swap in the bloom prefilter
  * `q_bloom_delta` demonstrates when the stored id column itself gets
  * big), one bucket-compacted append. Nothing rewrites the existing
  * layout; [[graft.ops.Compaction]] owns re-compaction when deltas
  * fragment buckets.
  */
object VectorIngest {

  /** Ingest one micro-batch; returns rows admitted (new vec_ids).
    *
    * Ledger semantics: `n_admitted` is PER-ATTEMPT, not cumulative —
    * a replayed epoch finds its rows already admitted and records 0
    * for that batch_id (including a bootstrap-epoch replay), so
    * `SUM(n_admitted)` UNDERCOUNTS the corpus after any at-least-once
    * redelivery. Corpus size comes from `n_index_rows` (written
    * alongside: the total stored row count AFTER this batch, read
    * from parquet footer metadata — no data scan), or from counting
    * the index directly; the sum of admissions is only a lower bound.
    *
    * Schema evolution: `n_index_rows` was added after the first
    * ledger era — consumers MUST read the ledger with its declared
    * row schema (as [[BatchLedger.readOtherBatches]] takes it) or with
    * `option("mergeSchema", "true")`, so a mixed-era ledger surfaces
    * the column as null in pre-change partitions instead of inferring
    * a one-footer schema that either drops the column or fails the
    * select.
    */
  def processBatch(batch: DataFrame, indexDir: String, ledgerDir: String,
      centroidsDir: String, batchId: Long): Long = {
    val spark = batch.sparkSession
    // native kernel registration must target the BATCH session (the
    // foreachBatch clone), not SparkSession.active — the documented
    // streaming seam (IncrementalNearDup's pattern); the cosine in
    // the centroid assignment rides on the dot_product kernel
    graft.functions.DotProduct.register(spark)
    val emb = batch.select(col("vec_id"), col("v"))
    val centroids = spark.read.parquet(centroidsDir)
    val n =
      if (!Fs.hasCommittedParquet(new java.io.File(indexDir))) {
        // bootstrap epoch: Overwrite build — a replay rebuilds the
        // same partitions in place
        val cnt = emb.count()
        VectorIndex.build(emb, centroids, indexDir)
        cnt
      } else VectorIndex.mergeDelta(spark, indexDir, emb, centroids)
    import spark.implicits._
    // post-batch corpus size from footer metadata (count() over a
    // parquet scan with no filters folds to row-group counts): the
    // ledger's replay-safe corpus-size column — see the scaladoc
    val total = spark.read.parquet(indexDir).count()
    Seq((n, total)).toDF("n_admitted", "n_index_rows")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$ledgerDir/batch_id=$batchId")
    n
  }

  /** File-stream form over a parquet directory of embeddings with
    * the testdata column names ((vec_id, embedding) → (vec_id, v));
    * the float→double widening matches the batch index pipeline, so
    * the streamed layout is bit-comparable to a one-shot build. */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
      indexDir: String,
      ledgerDir: String, centroidsDir: String): StreamingQuery =
    graft.ops.MergeableStore.stream(spark, sourceDir, schema,
        s"$indexDir-__checkpoint") {
      (batch, batchId) =>
        processBatch(
          batch.select(col("vec_id"),
            graft.ext.VectorFunctions.asDouble(col("embedding")).as("v")),
          indexDir, ledgerDir, centroidsDir, batchId)
        ()
    }
}
