package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ChecksumMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq(col("id"), col("name"))

  private def fp(df: org.apache.spark.sql.DataFrame): (Long, Long) =
    ChecksumMaintenance.fingerprint(df, cols)
      .as[(Long, Long)].head()

  test("mergeDelta equals full recompute; retry is a no-op; " +
    "retraction returns to the prior fingerprint") {
    val store = Files.createTempDirectory("cksum").toString + "/store"
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val b1 = Seq((3L, "c")).toDF("id", "name")
    val b2 = Seq((4L, "d"), (5L, "e")).toDF("id", "name")

    ChecksumMaintenance.build(b0, cols, store)
    ChecksumMaintenance.mergeDelta(spark, store, b1, cols, "b1")
    ChecksumMaintenance.mergeDelta(spark, store, b2, cols, "b2")
    val after2 = ChecksumMaintenance.read(spark, store)
      .as[(Long, Long, String)].head()
    assert((after2._1, after2._2) ===
      fp(b0.unionByName(b1).unionByName(b2)),
      "incremental fingerprint != full recompute")

    // retry of the last epoch: stamp guard makes it a no-op
    ChecksumMaintenance.mergeDelta(spark, store, b2, cols, "b2")
    val retried = ChecksumMaintenance.read(spark, store)
      .as[(Long, Long, String)].head()
    assert(retried === after2, "retried epoch double-folded")

    // retract b2: same xor fold, count subtracts — back to base+b1
    ChecksumMaintenance.mergeDelta(spark, store, b2, cols, "b3", sign = -1)
    val retracted = ChecksumMaintenance.read(spark, store)
      .as[(Long, Long, String)].head()
    assert((retracted._1, retracted._2) === fp(b0.unionByName(b1)),
      "retraction did not invert the fold")
  }

  test("streaming maintenance converges to the batch fingerprint " +
    "and a restart does not re-fold") {
    val base = Files.createTempDirectory("cksum_stream").toString
    val (src, store) = (s"$base/src", s"$base/store")
    val f1 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val f2 = Seq((3L, "c")).toDF("id", "name")
    f1.coalesce(1).write.parquet(src)
    f2.coalesce(1).write.mode("append").parquet(src)

    ChecksumMaintenance.build(spark.emptyDataset[(Long, String)]
      .toDF("id", "name"), cols, store)
    ChecksumMaintenance.start(spark, src, f1.schema, store, Seq("id", "name"))
      .awaitTermination(120000)
    val got = ChecksumMaintenance.read(spark, store)
      .as[(Long, Long, String)].head()
    assert((got._1, got._2) === fp(f1.unionByName(f2)))

    // restart over the same checkpoint: no new files => no new folds
    ChecksumMaintenance.start(spark, src, f1.schema, store, Seq("id", "name"))
      .awaitTermination(120000)
    val again = ChecksumMaintenance.read(spark, store)
      .as[(Long, Long, String)].head()
    assert(again === got, "restart re-folded already-processed files")

    // new file after restart folds exactly once
    val f3 = Seq((9L, "z")).toDF("id", "name")
    f3.coalesce(1).write.mode("append").parquet(src)
    ChecksumMaintenance.start(spark, src, f1.schema, store, Seq("id", "name"))
      .awaitTermination(120000)
    val withF3 = ChecksumMaintenance.read(spark, store)
      .as[(Long, Long, String)].head()
    assert((withF3._1, withF3._2) ===
      fp(f1.unionByName(f2).unionByName(f3)))
  }
}
