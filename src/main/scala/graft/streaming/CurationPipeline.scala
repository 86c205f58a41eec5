package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.{Fs, MergeableStore}

/** The composed streaming curation DAG — the five spec-tested stages
  * wired into ONE per-micro-batch pipeline:
  *
  *   ingest ([[CurationIngest]]: score + language agreement + exact
  *   dedup vs the hash ledger)
  *     → near-dup admission ([[IncrementalNearDup]]: MinHash-LSH vs
  *       the accumulated signature index)
  *       → rollup maintenance ([[RollupMaintenance.mergeDelta]]:
  *         per-(hour, lang) curation metrics, batch-stamped)
  *         ∥ frequency-sketch maintenance ([[SketchMaintenance]]:
  *           the per-source CMS the admission throttle probes,
  *           batch-stamped) — the two merges run concurrently
  *           ([[graft.ops.MergeableStore.mergeTogether]])
  *         → atomic publish ([[graft.sources.AtomicSink]]: staged
  *           task writes, driver commit, `_SUCCESS` manifest last).
  *
  * EXACTLY-ONCE under at-least-once foreachBatch: every stage's
  * durable effect is keyed so a replay of the same epoch CONVERGES
  * instead of duplicating —
  *
  *   - curated store + hash ledger: batch-keyed partitions,
  *     overwritten; the dedup join excludes the replaying batch's own
  *     half-written partition (CurationIngest's contract);
  *   - signature index: same batch-keyed overwrite (IncrementalNearDup);
  *   - rollup: the `last_batch` stamp guard — a partition already
  *     carrying this batch's stamp passes through unmerged
  *     (RollupMaintenance.mergeDelta; the FIRST batch merges into the
  *     empty store, so its stamp guards its own replay too);
  *   - frequency sketch: the identical stamp guard on the dense CMS
  *     store (SketchMaintenance.mergeDelta) — a replayed fold is a
  *     rewrite-unchanged, so streamed-through-crashes cells stay
  *     bit-identical to a batch-built sketch over the admitted set;
  *   - publish: per-batch target dir, PRE-CLEANED then re-published
  *     through the staged-commit sink — readers gate on the `_SUCCESS`
  *     manifest, which is written last, so a reader never sees a
  *     half-replaced batch.
  *
  * A crash BETWEEN stages leaves a prefix of the stages durable; the
  * retried epoch re-runs all four, the completed prefix converges
  * in-place, and the missing suffix is produced — CurationPipelineSpec
  * kills the epoch at each inter-stage boundary and proves the final
  * state is bit-identical to a crash-free run.
  *
  * Scale: the stages share the micro-batch scan; cross-batch state
  * (ledger hashes, 64-long signatures, aggregate-class rollup rows) is
  * compact and partition-pruned — nothing rereads or retains the
  * historical corpus text.
  */
object CurationPipeline {

  final case class Dirs(base: String) {
    val curated = s"$base/curated"
    val ledger = s"$base/ledger"
    val nearDupIndex = s"$base/nd_index"
    val rollup = s"$base/rollup"
    val sketch = s"$base/cms"
    val publish = s"$base/publish"
    val checkpoint = s"$base/__checkpoint"
  }

  /** Deterministic per-doc event time for the metrics rollup (a
    * production ingest stamps arrival time; the harness needs replays
    * to produce identical rollup rows). */
  private def docTs: org.apache.spark.sql.Column =
    to_timestamp(from_unixtime(lit(1700000000L) + col("doc_id") * 60))

  /** One micro-batch through the four composed stages. Idempotent per
    * `batchId` — see class doc. */
  def processBatch(spark: SparkSession, batch: DataFrame, dirs: Dirs,
      batchId: Long, tau: Double = 0.5): Unit = {
    // stage 1 — exact: score, filter, dedup vs ledger; batch-keyed write
    CurationIngest.processBatch(spark, batch, dirs.curated, dirs.ledger, batchId)
    // read the batch's survivors back (the durable form IS the stage
    // boundary — a retry sees exactly what the first attempt
    // committed) with the schema of the lineage CurationIngest writes
    // (score → project): no footer job, and an all-filtered batch —
    // a partition with no data files — reads as an empty frame of
    // that schema instead of failing inference and wedging the stream
    val survivors = spark.read // (doc_id, lang, quality)
      .schema(graft.ext.PipelineOps.curationScore(batch)
        .select("doc_id", "lang", "quality").schema)
      .parquet(s"${dirs.curated}/batch_id=$batchId")
    val withText = survivors.join(batch.select("doc_id", "text"), "doc_id")

    // stage 2 — near-dup: LSH admission vs the signature index
    val admittedIds = IncrementalNearDup.processBatch(spark,
      withText.select("doc_id", "text"), dirs.nearDupIndex, batchId, tau)
    val admitted = withText.join(admittedIds, Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "quality").persist()
    try {
      // stages 3 and 4 fold the same admitted set into two independent
      // stores, so they run together; both pointers flip only after
      // both versions are written (rollup first), and publish waits
      // for both, so a published batch means both stores hold it.
      //
      // stage 3 — rollup: per-(hour, lang) admitted-doc metrics,
      // stamp-guarded so a replayed epoch can't double-merge. The
      // first epoch merges into the empty store — the bootstrap.
      val events = admitted.select(docTs.as("ts"),
        col("lang").as("event_type"), col("quality").cast("double").as("value"))
      // stage 4 — frequency sketch: fold the admitted docs' source
      // keys into the CMS store ([[SketchMaintenance]] — the
      // per-domain admission-throttle/cap service a curation loop
      // probes). CMS linearity makes maintenance per-batch-local (no
      // history rescan); the same `last_batch` stamp guard as the
      // rollup makes a replayed epoch rewrite the store UNCHANGED
      // instead of double-folding.
      val admittedSrc = admitted.join(batch.select("doc_id", "source"), "doc_id")
      MergeableStore.mergeTogether(
        () => RollupMaintenance.mergeDelta(spark, dirs.rollup, events, s"b$batchId"),
        () => SketchMaintenance.mergeDelta(spark, dirs.sketch, admittedSrc,
          col("source"), s"b$batchId"))

      // stage 5 — atomic publish: batch-keyed dir, pre-cleaned so a
      // replay REPLACES a previously-committed copy instead of adding
      // files beside it; the sink stages per-task and manifests last
      val target = s"${dirs.publish}/batch_id=$batchId"
      Fs.deleteRecursively(new java.io.File(target))
      admitted.write.format("graft.sources.AtomicSink")
        .option("path", target).mode("append").save()
    } finally admitted.unpersist()
  }

  /** File-stream form: one micro-batch per arriving file
    * (AvailableNow for replay harnesses). Restart-safe: a new start()
    * on the same checkpoint resumes at the first uncommitted epoch and
    * replays it through the idempotent [[processBatch]]. */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
      dirs: Dirs,
      tau: Double = 0.5): StreamingQuery =
    graft.ops.MergeableStore.stream(spark, sourceDir, schema, dirs.checkpoint) {
      (batch, batchId) => processBatch(spark, batch, dirs, batchId, tau)
    }
}
