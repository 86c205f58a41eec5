package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ext.DedupFunctions
import graft.functions.SigAgreement

/** Incremental NEAR-duplicate admission — the LSH upgrade of
  * [[CurationIngest]]'s exact-hash ledger: each micro-batch of
  * documents is checked for near-duplicates against EVERYTHING
  * admitted so far, without ever re-reading (or even retaining) the
  * historical text.
  *
  * The persisted state is a compact signature index:
  *
  *   - `sigs/batch_id=N`:  (doc_id, sig)        — 64 longs per doc
  *   - `bands/batch_id=N`: (band_idx, band_hash, doc_id)
  *
  * Per batch: ONE narrow pass computes MinHash signatures; candidates
  * are an equi-join of the batch's band hashes against the index's
  * (and the batch's own, for in-batch pairs) — fixed-width keys, never
  * all-pairs; the admission decision is the Broder estimate from the
  * signatures (`SigAgreement >= tau`). Estimated-Jaccard admission is
  * the standard streaming trade: exact verification would require
  * retaining every admitted document's text; the index holds ~0.1% of
  * the corpus bytes instead, and the estimator's error shrinks as
  * 1/sqrt(k).
  *
  * Drop rule (deterministic): a doc is rejected iff it band-collides
  * with an INDEXED doc at agreement >= tau, or with a smaller-doc_id
  * doc of its own batch. (Conservative on in-batch chains: B~A and
  * C~B drops both B and C even though C!~A — the same first-seen-wins
  * convention as the exact ledger.)
  *
  * Replay-idempotent the same way CurationIngest is: both index
  * tables are keyed by the engine batchId and OVERWRITE their own
  * partition; the candidate join excludes the current batch's own
  * index partition, so a retried epoch recomputes the same admission
  * set.
  */
object IncrementalNearDup {

  val K = 64
  val Bands = 16
  val Rows = 4

  /** Process one batch of (doc_id, text); returns admitted doc ids
    * (also appended to the index). */
  def processBatch(spark: SparkSession, batch: DataFrame, indexDir: String,
      batchId: Long, tau: Double = 0.5): DataFrame = {
    import DedupFunctions._

    // register the native kernels against the BATCH's own session: in
    // foreachBatch the frame belongs to the streaming clone session,
    // and the per-call helpers register against SparkSession.active —
    // which is NOT the clone there, so a stream started in a session
    // that never ran a batch query first would fail analysis with
    // UNRESOLVED_ROUTINE (sessions built with GraftExtensions are
    // immune; this keeps plain sessions working too)
    graft.functions.ShingleSet.register(batch.sparkSession)
    graft.functions.MinHashSig.register(batch.sparkSession)
    graft.functions.SigAgreement.register(batch.sparkSession)

    val sigs = batch
      .select(col("doc_id"), minhashSignature(distinctShingles(col("text")), K).as("sig"))
      .persist()
    val bands = sigs.select(col("doc_id"),
      posexplode(bandHashes(col("sig"), Bands, Rows)).as(Seq("band_idx", "band_hash")))

    // vs the accumulated index (excluding a retry's own half-written
    // partition), resolved to signatures for the agreement estimate
    val agree = SigAgreement.sigAgreement(col("sig"), col("idx_sig")) >= tau
    val vsIndex = BatchLedger.readOtherBatches(spark, s"$indexDir/bands", batchId,
        bands.schema) match {
      case Some(idxBands) =>
        val idxSigs = BatchLedger.readOtherBatches(spark, s"$indexDir/sigs", batchId,
          sigs.schema).get
          .select(col("doc_id").as("idx_doc_id"), col("sig").as("idx_sig"))
        bands
          .join(idxBands.select(col("band_idx"), col("band_hash"),
            col("doc_id").as("idx_doc_id")), Seq("band_idx", "band_hash"))
          .select("doc_id", "idx_doc_id").distinct()
          .join(idxSigs, "idx_doc_id")
          .join(sigs, "doc_id")
          .filter(agree)
          .select("doc_id").distinct()
      case None => spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
    }

    // in-batch: band collision with a smaller doc_id at agreement >= tau
    val inBatch = bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("keep_id"), col("b.doc_id").as("doc_id"))
      .distinct()
      .join(sigs.select(col("doc_id").as("keep_id"), col("sig").as("idx_sig")), "keep_id")
      .join(sigs, "doc_id")
      .filter(agree)
      .select("doc_id").distinct()

    val dropped = vsIndex.union(inBatch).distinct()
    val admitted = sigs.join(dropped, Seq("doc_id"), "left_anti").persist()

    admitted.write.mode(SaveMode.Overwrite)
      .parquet(s"$indexDir/sigs/batch_id=$batchId")
    admitted.select(col("doc_id"),
        posexplode(bandHashes(col("sig"), Bands, Rows)).as(Seq("band_idx", "band_hash")))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$indexDir/bands/batch_id=$batchId")

    // release both per-batch caches NOW (a long-running stream would
    // otherwise accumulate one pinned frame per epoch); the returned
    // ids read back from the partition this batch just committed,
    // with the schema it was written with
    sigs.unpersist()
    admitted.unpersist()
    spark.read.schema(admitted.schema)
      .parquet(s"$indexDir/sigs/batch_id=$batchId").select("doc_id")
  }

  /** File-stream form over a parquet directory of documents. */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
      indexDir: String,
      admittedDir: String, tau: Double = 0.5): StreamingQuery =
    graft.ops.MergeableStore.stream(spark, sourceDir, schema,
        s"$indexDir-__checkpoint") {
      (batch, batchId) =>
        processBatch(spark, batch, indexDir, batchId, tau)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$admittedDir/batch_id=$batchId")
    }
}
