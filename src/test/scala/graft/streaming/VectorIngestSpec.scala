package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ext.VectorFunctions.asDouble
import graft.ops.VectorIndex

/** Streamed IVF ingest vs the one-shot batch build: the converged
  * index must be bit-identical (same vectors, same buckets), the
  * probe must serve the same neighbors, a replayed epoch must append
  * nothing, and a restarted stream must pick up only the new files.
  */
class VectorIngestSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def embAll =
    Tables(spark, sf, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))

  private def writeCentroids(base: String): String = {
    val cd = s"$base/centroids"
    graft.ext.Similarity.trainedCentroids(embAll, iters = 2)
      .write.mode("overwrite").parquet(cd)
    cd
  }

  private def indexRows(dir: String): Seq[(Long, Long, Seq[Double])] =
    spark.read.parquet(dir)
      .select(col("vec_id"), col("bucket").cast("long"), col("v"))
      .as[(Long, Long, Seq[Double])].collect().sortBy(_._1).toSeq

  test("streamed ingest converges to the one-shot build; restart picks up new files") {
    val base = Files.createTempDirectory("vec_ingest").toString
    val cd = writeCentroids(base)
    val src = s"$base/src"
    val idx = s"$base/idx"
    val led = s"$base/ledger"

    // three epoch files now, a fourth after the first run — disjoint
    // vec_id ranges so every row is genuinely new to its epoch
    def slice(lo: Long, hi: Long) =
      Tables(spark, sf, "embeddings")
        .filter(col("vec_id") >= lo && col("vec_id") < hi)
    for ((lo, hi) <- Seq((0L, 12L), (12L, 25L), (25L, 38L)))
      slice(lo, hi).repartition(1).write.mode("append").parquet(src)

    VectorIngest.start(spark, src, Tables(spark, sf, "embeddings").schema,
      idx, led, cd).awaitTermination()

    val centroids = spark.read.parquet(cd)
    val batch1 = s"$base/batch1"
    VectorIndex.build(embAll.filter(col("vec_id") < 38), centroids, batch1)
    assert(indexRows(idx) === indexRows(batch1))
    // the ledger admitted every row exactly once across epochs
    val admitted = spark.read.option("basePath", led).parquet(led)
      .agg(sum("n_admitted")).as[Long].collect()(0)
    assert(admitted === embAll.filter(col("vec_id") < 38).count())

    // restart: one NEW file arrives; the checkpoint replays nothing
    slice(38L, 10000L).repartition(1).write.mode("append").parquet(src)
    VectorIngest.start(spark, src, Tables(spark, sf, "embeddings").schema,
      idx, led, cd).awaitTermination()
    val batchAll = s"$base/batch_all"
    VectorIndex.build(embAll, centroids, batchAll)
    assert(indexRows(idx) === indexRows(batchAll))

    // and the served path agrees end to end: probing the streamed
    // layout returns exactly what probing the one-shot layout does
    val queries = embAll.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    def probed(d: String) =
      VectorIndex.probe(spark, d, queries, centroids, nprobe = 2, k = 5)
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(probed(idx).toSeq === probed(batchAll).toSeq)
  }

  test("50-batch soak: streamed index == one-shot build, replays admit 0, ledger corpus count monotone") {
    val base = Files.createTempDirectory("vec_ingest_soak").toString
    val cd = writeCentroids(base)
    val idx = s"$base/idx"
    val led = s"$base/ledger"
    // 50 disjoint 10-vector epochs cover the whole sf0.001 corpus;
    // every 10th epoch is redelivered (at-least-once) and must admit 0
    var expectTotal = 0L
    for (b <- 0 until 50) {
      val slice = embAll
        .filter(col("vec_id") >= b * 10L && col("vec_id") < (b + 1) * 10L)
      val n = VectorIngest.processBatch(slice, idx, led, cd, b.toLong)
      expectTotal += n
      if (b % 10 == 9) {
        val replay = VectorIngest.processBatch(slice, idx, led, cd, b.toLong)
        assert(replay === 0L, s"epoch $b replay admitted $replay")
      }
    }
    assert(expectTotal === embAll.count())
    // converged layout bit-identical to the one-shot batch build
    val batchAll = s"$base/batch_all"
    VectorIndex.build(embAll, spark.read.parquet(cd), batchAll)
    assert(indexRows(idx) === indexRows(batchAll))
    // ledger: n_index_rows is the replay-safe corpus size — strictly
    // monotone over batch_id and equal to the true total at the end
    // (replayed epochs rewrote their rows with n_admitted=0 but the
    // full post-batch total)
    val ledger = spark.read.option("basePath", led)
      .option("mergeSchema", "true").parquet(led)
      .select(col("batch_id").cast("long"), col("n_admitted"),
        col("n_index_rows"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(ledger.map(_._1) === (0L until 50L))
    assert(ledger.last._3 === expectTotal)
    assert(ledger.map(_._3) === ledger.map(_._3).sorted, "corpus count not monotone")
    ledger.filter(_._1 % 10 == 9).foreach { case (b, adm, _) =>
      assert(adm === 0L, s"replayed epoch $b recorded n_admitted=$adm")
    }
  }

  test("a replayed epoch admits nothing and rewrites its ledger row") {
    val base = Files.createTempDirectory("vec_ingest_replay").toString
    val cd = writeCentroids(base)
    val idx = s"$base/idx"
    val led = s"$base/ledger"
    val b0 = embAll.filter(col("vec_id") < 20)
    val b1 = embAll.filter(col("vec_id") >= 20 && col("vec_id") < 30)

    val n0 = VectorIngest.processBatch(b0, idx, led, cd, 0L)
    val n1 = VectorIngest.processBatch(b1, idx, led, cd, 1L)
    assert(n0 === b0.count() && n1 === b1.count())

    // at-least-once redelivery of epoch 1: anti-join admission finds
    // every row already indexed
    val n1r = VectorIngest.processBatch(b1, idx, led, cd, 1L)
    assert(n1r === 0L)
    val ids = spark.read.parquet(idx).select("vec_id")
      .as[Long].collect().toSeq
    assert(ids.sorted === ids.distinct.sorted, "duplicated index rows")
    assert(ids.size.toLong === n0 + n1)

    // the replay REWROTE its partition (one row, recording the
    // replay's own admission count) — never double-counts. n_admitted
    // is therefore PER-ATTEMPT (sums to a lower bound after replays);
    // n_index_rows is the replay-safe corpus size: the replayed row
    // records 0 admitted but the FULL post-batch total.
    val rows = spark.read.option("basePath", led).parquet(led)
      .select(col("batch_id").cast("long"), col("n_admitted"),
        col("n_index_rows"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(rows === Seq((0L, n0, n0), (1L, 0L, n0 + n1)))
  }
}
