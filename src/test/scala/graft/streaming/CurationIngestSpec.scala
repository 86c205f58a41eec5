package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CurationIngestSpec extends SparkSpec {
  import spark.implicits._

  // high-quality english text that passes the quality floor and
  // language-agreement filter
  private val goodText =
    "the quick brown fox jumps over the lazy dog and then the fox " +
      "rests in the shade of a tall tree because it is tired " * 3

  private def docs(rows: (Long, String, String)*) =
    rows.toSeq.toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("text"), col("lang"),
        lit("src").as("source"), length(col("text")).as("n_chars"))

  private def ingestedIds(out: String): Seq[Long] =
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted.toSeq

  test("per-batch processing dedups in-batch and against the ledger") {
    val base = Files.createTempDirectory("curation").toString
    val (out, ledger) = (s"$base/out", s"$base/ledger")

    // batch 1: two distinct docs + an in-batch duplicate of doc 1
    CurationIngest.processBatch(spark,
      docs((1L, goodText, "en"), (2L, goodText + " extra words here", "en"),
        (3L, goodText, "en")),
      out, ledger, batchId = 0L)
    // 3 collapsed into 1 (same normalized text)
    assert(ingestedIds(out) === Seq(1L, 2L))

    // batch 2: cross-batch duplicate of doc 1 (punctuation differs but
    // normalizes identically) + one genuinely new doc + one low-quality
    CurationIngest.processBatch(spark,
      docs((10L, goodText + "!!!", "en"),
        (11L, goodText + " completely new tail of the second batch", "en"),
        (12L, "short low quality", "en")),
      out, ledger, batchId = 1L)
    // 10 deduped vs ledger; 12 filtered
    assert(ingestedIds(out) === Seq(1L, 2L, 11L))
  }

  test("a retried micro-batch replaces its partition instead of duplicating") {
    val base = Files.createTempDirectory("curation_retry").toString
    val (out, ledger) = (s"$base/out", s"$base/ledger")

    CurationIngest.processBatch(spark,
      docs((1L, goodText, "en")), out, ledger, batchId = 0L)
    val b1 = docs((2L, goodText + " second batch text", "en"),
      (3L, goodText, "en")) // 3 duplicates batch 0's doc 1

    // foreachBatch is at-least-once: the same epoch can run twice
    // (e.g. crash after the writes but before the checkpoint commit)
    CurationIngest.processBatch(spark, b1, out, ledger, batchId = 1L)
    CurationIngest.processBatch(spark, b1, out, ledger, batchId = 1L)

    // no duplicates: the replay overwrote batch 1's partition
    assert(ingestedIds(out) === Seq(1L, 2L))
    assert(spark.read.parquet(ledger).select("content_hash")
      .distinct().count() === 2)
  }

  test("file-stream ingest (AvailableNow) processes batches incrementally") {
    val base = Files.createTempDirectory("curation_stream").toString
    val (src, out, ledger) = (s"$base/src", s"$base/out", s"$base/ledger")

    docs((1L, goodText, "en"), (2L, goodText + " more", "en"))
      .write.parquet(src)
    // second file: one duplicate of doc 1, one new doc
    docs((5L, goodText, "en"), (6L, goodText + " yet another new doc", "en"))
      .coalesce(1).write.mode("append").parquet(src)

    val q = CurationIngest.start(spark, src, docs().schema, out, ledger)
    q.awaitTermination(120000)

    val ingested = ingestedIds(out)
    // exactly one keeper per distinct normalized text, across all files
    assert(ingested.length === 3)
    assert(ingested.toSet.intersect(Set(1L, 5L)).size === 1)
    // the ledger holds one hash per distinct text
    assert(spark.read.parquet(ledger).select("content_hash")
      .distinct().count() === 3)
  }
}
