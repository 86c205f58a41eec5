package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ops.QuantileSketch

/** GroupQuantileMaintenance: the streamed per-group store equals the
  * one-shot batch build group-by-group bit-for-bit, replayed epochs
  * fold exactly once, groups first appearing mid-stream bootstrap
  * from empty, and the served quantiles frame matches the from-scratch
  * typed-Aggregator answer.
  */
class GroupQuantileMaintenanceSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val K = 64

  private def docRows(pred: org.apache.spark.sql.Column) =
    Tables(spark, sfDir, "documents").filter(pred)
      .select(col("source").as("g"),
        QuantileSketch.hash60(col("doc_id").cast("string")).as("h"),
        col("n_chars").cast("long").as("v"))

  private val all = lit(true)

  test("streamed folds == batch build per group; replay folds once") {
    val store = Files.createTempDirectory("graft_gqm_store").toString
    GroupQuantileMaintenance.build(docRows(all).filter(lit(false)), store, K)
    for ((m, i) <- Seq(0, 1, 2).zipWithIndex) {
      GroupQuantileMaintenance.mergeDelta(spark, store,
        docRows(col("doc_id") % 3 === m), s"b$i", K)
      GroupQuantileMaintenance.mergeDelta(spark, store,
        docRows(col("doc_id") % 3 === m), s"b$i", K) // at-least-once replay
    }
    val (streamed, _) = GroupQuantileMaintenance.readSketches(spark, store, K)
    val batch = GroupQuantileMaintenance.sketchesOf(docRows(all), K)
    assert(streamed.keySet === batch.keySet)
    for (g <- batch.keySet) {
      assert(streamed(g).level === batch(g).level, g)
      assert(streamed(g).total === batch(g).total, g)
      assert(streamed(g).canonical === batch(g).canonical, g)
      assert(streamed(g).items.size <= K, g)
    }
  }

  test("distributed fold: replay skipped, one exchange on g") {
    val storeB = Files.createTempDirectory("graft_gqm_dist").toString
    val seed = docRows(col("doc_id") % 2 === 0)
    GroupQuantileMaintenance.build(seed, storeB, K)

    val delta = docRows(col("doc_id") % 2 === 1)
    GroupQuantileMaintenance.mergeDelta(spark, storeB, delta, "b1", K)

    def rows(dir: String) =
      graft.ops.Fs.readStore(spark, graft.ops.MergeableStore.liveDir(dir))
      .select("g", "h", "v", "total", "last_batch")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).sorted.toSeq

    // replayed epoch: the stamp guard skips
    val before = rows(storeB)
    GroupQuantileMaintenance.mergeDelta(spark, storeB, delta, "b1", K)
    assert(rows(storeB) === before, "distributed replay double-folded")

    // and the distributed plan has the shape the contract claims:
    // one exchange on g into a per-group flatMapGroups, no collect
    val frame = GroupQuantileMaintenance.mergedRowsDistributed(
      spark, storeB, delta, K)
    frame.collect()
    val plan = frame.queryExecution.executedPlan.toString()
    assert(plan.contains("MapGroups"), plan.take(2000))
    // the groupByKey key surfaces as `value` in the physical plan —
    // one hash exchange on it feeds the per-group fold
    assert(plan.contains("Exchange hashpartitioning(value"), plan.take(2000))
  }

  test("a group first appearing mid-stream bootstraps from empty") {
    val store = Files.createTempDirectory("graft_gqm_store2").toString
    // batch 0 carries only one source; the rest arrive in batch 1
    val sources = Tables(spark, sfDir, "documents")
      .select("source").distinct().collect().map(_.getString(0)).sorted
    val first = sources.head
    GroupQuantileMaintenance.build(
      docRows(col("source") === first), store, K)
    val (afterOne, _) = GroupQuantileMaintenance.readSketches(spark, store, K)
    assert(afterOne.keySet === Set(first))

    GroupQuantileMaintenance.mergeDelta(spark, store,
      docRows(col("source") =!= first), "b0", K)
    val (afterTwo, _) = GroupQuantileMaintenance.readSketches(spark, store, K)
    val batch = GroupQuantileMaintenance.sketchesOf(docRows(all), K)
    assert(afterTwo.keySet === batch.keySet)
    for (g <- batch.keySet)
      assert(afterTwo(g).canonical === batch(g).canonical, g)
  }

  test("served quantiles frame == from-scratch typed Aggregator answer") {
    val store = Files.createTempDirectory("graft_gqm_store3").toString
    GroupQuantileMaintenance.build(
      docRows(col("doc_id") % 2 === 0), store, K)
    GroupQuantileMaintenance.mergeDelta(spark, store,
      docRows(col("doc_id") % 2 === 1), "b0", K)

    val served = GroupQuantileMaintenance.quantilesFrame(spark, store, K)
      .orderBy("source").collect().map(_.toString).toSeq
    val scratch = GroupQuantileMaintenance.sketchesOf(docRows(all), K)
      .toSeq.sortBy(_._1).map { case (g, sk) =>
        org.apache.spark.sql.Row(g, sk.level.toLong, sk.total,
          sk.items.size.toLong,
          sk.quantile(5000L).get, sk.quantile(9500L).get).toString
      }
    assert(served === scratch)
  }

  test("per-group boundaries == Histogram.sketchBoundaries applied to each group alone") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_gqm_store5").toString
    GroupQuantileMaintenance.build(docRows(all), store, K)

    val grouped = GroupQuantileMaintenance
      .boundariesFrame(spark, store, buckets = 4)
      .select("source", "bucket", "lo", "ub", "m")
      .collect().map(_.toString).sorted.toSeq

    val (sks, _) = GroupQuantileMaintenance.readSketches(spark, store, K)
    val single = sks.toSeq.flatMap { case (g, sk) =>
      val frame = sk.canonical
        .map { case (h, v) => (v, h, sk.level.toLong, sk.total) }
        .toDF("v", "h", "lstar", "n")
      graft.ops.Histogram.sketchBoundaries(frame, 4)
        .select(lit(g).as("source"), col("bucket"), col("lo"), col("ub"),
          col("m"))
        .collect().map(_.toString)
    }.sorted
    assert(grouped === single)
  }

  test("file-stream maintenance: streamed store == one-shot batch, restart is incremental") {
    val src = Files.createTempDirectory("graft_gqm_src").toString
    val store = Files.createTempDirectory("graft_gqm_store4").toString
    def writePart(pred: org.apache.spark.sql.Column): Unit =
      Tables(spark, sfDir, "documents").filter(pred)
        .select("doc_id", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(src)

    val srcSchema = Tables(spark, sfDir, "documents")
      .select("doc_id", "source", "n_chars").schema
    writePart(col("doc_id") % 3 === 0); writePart(col("doc_id") % 3 === 1)
    GroupQuantileMaintenance.build(
      docRows(all).filter(lit(false)), store, K)
    val q1 = GroupQuantileMaintenance.start(spark, src, srcSchema, store,
      "source", "n_chars", "doc_id", K)
    q1.awaitTermination()
    val (afterTwo, _) = GroupQuantileMaintenance.readSketches(spark, store, K)
    val expectTwo = GroupQuantileMaintenance.sketchesOf(
      docRows(col("doc_id") % 3 =!= 2), K)
    assert(afterTwo.keySet === expectTwo.keySet)
    for (g <- expectTwo.keySet)
      assert(afterTwo(g).canonical === expectTwo(g).canonical, g)

    // restart with one more file: only the new file is ingested
    writePart(col("doc_id") % 3 === 2)
    val q2 = GroupQuantileMaintenance.start(spark, src, srcSchema, store,
      "source", "n_chars", "doc_id", K)
    q2.awaitTermination()
    val (afterAll, _) = GroupQuantileMaintenance.readSketches(spark, store, K)
    val expectAll = GroupQuantileMaintenance.sketchesOf(docRows(all), K)
    for (g <- expectAll.keySet)
      assert(afterAll(g).canonical === expectAll(g).canonical, g)
    assert(afterAll.keySet === expectAll.keySet)
  }
}
