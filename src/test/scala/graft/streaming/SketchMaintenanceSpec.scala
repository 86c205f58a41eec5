package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SketchMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def cellsOf(dir: String) =
    SketchMaintenance.read(spark, dir)
      .select("i", "b", "c").as[(Int, Long, Long)].collect().toSeq
      .sortBy(r => (r._1, r._2))

  test("mergeDelta equals full recompute; retry is a no-op; " +
    "retraction inverts the fold") {
    val store = Files.createTempDirectory("cms").toString + "/store"
    val b0 = Seq("a", "b", "a").toDF("k")
    val b1 = Seq("b", "c").toDF("k")
    val b2 = Seq("a", "d", "d").toDF("k")

    SketchMaintenance.build(b0, col("k"), store)
    SketchMaintenance.mergeDelta(spark, store, b1, col("k"), "b1")
    SketchMaintenance.mergeDelta(spark, store, b2, col("k"), "b2")
    val maintained = cellsOf(store)

    // linearity: the maintained sketch IS the batch-built sketch
    val full = Files.createTempDirectory("cms").toString + "/full"
    SketchMaintenance.build(b0.unionByName(b1).unionByName(b2),
      col("k"), full)
    assert(maintained === cellsOf(full),
      "incremental cells != full recompute")
    assert(maintained.length === 4 * 256, "store must stay dense")

    // retry of the last epoch: stamp guard makes it a no-op
    SketchMaintenance.mergeDelta(spark, store, b2, col("k"), "b2")
    assert(cellsOf(store) === maintained, "retried epoch double-folded")

    // retract b2 (negative fold): back to base+b1
    SketchMaintenance.mergeDelta(spark, store, b2, col("k"), "b3", sign = -1)
    val prior = Files.createTempDirectory("cms").toString + "/prior"
    SketchMaintenance.build(b0.unionByName(b1), col("k"), prior)
    assert(cellsOf(store) === cellsOf(prior),
      "retraction did not invert the fold")
  }

  test("streaming maintenance converges to the batch sketch; " +
    "probes never undershoot true counts") {
    val base = Files.createTempDirectory("cms_stream").toString
    val (src, store) = (s"$base/src", s"$base/store")
    val f1 = Seq("x", "y", "x", "x").toDF("k")
    val f2 = Seq("y", "z").toDF("k")
    f1.coalesce(1).write.parquet(src)
    f2.coalesce(1).write.mode("append").parquet(src)

    SketchMaintenance.build(spark.emptyDataset[String].toDF("k"),
      col("k"), store)
    SketchMaintenance.start(spark, src, f1.schema, store, "k")
      .awaitTermination(120000)

    val full = s"$base/full"
    SketchMaintenance.build(f1.unionByName(f2), col("k"), full)
    assert(cellsOf(store) === cellsOf(full),
      "streamed store != batch-built sketch")

    val est = SketchMaintenance.probe(spark, store,
      Seq("x", "y", "z", "missing").toDF("k"), col("k"))
      .as[(String, Long)].collect().toMap
    assert(est("x") >= 3L && est("y") >= 2L && est("z") >= 1L)
    assert(est("missing") >= 0L)
  }
}
