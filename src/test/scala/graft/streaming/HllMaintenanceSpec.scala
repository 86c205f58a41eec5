package graft.streaming

import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.SparkSpec

class HllMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def regsOf(dir: String) =
    HllMaintenance.read(spark, dir)
      .select("grp", "bucket", "reg").as[(String, Long, Long)]
      .collect().toSeq.sortBy(r => (r._1, r._2))

  // the shared 60-bit md5-prefix register construction, imperatively
  private def imperativeRegs(rows: Seq[(String, String)]): Seq[(String, Long, Long)] = {
    val md = MessageDigest.getInstance("MD5")
    val sparse = rows.map { case (g, k) =>
      val hex = md.digest(k.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      val bucket = h % 64
      val rem = h / 64
      val rank = if (rem == 0L) 55L
        else 55L - (64L - java.lang.Long.numberOfLeadingZeros(rem))
      (g, bucket, rank)
    }.groupBy(r => (r._1, r._2))
      .map { case ((g, b), rs) => (g, b, rs.map(_._3).max) }
    val grps = rows.map(_._1).distinct
    (for (g <- grps; b <- 0L until 64L) yield {
      (g, b, sparse.find(r => r._1 == g && r._2 == b).map(_._3).getOrElse(0L))
    }).sortBy(r => (r._1, r._2))
  }

  test("max-merge equals full recompute bit-for-bit; replay converges " +
    "without a stamp guard; new groups densify") {
    val store = Files.createTempDirectory("hll").toString + "/store"
    val b0 = Seq(("g1", "a"), ("g1", "b"), ("g2", "a")).toDF("g", "k")
    val b1 = Seq(("g1", "b"), ("g1", "c")).toDF("g", "k")
    val b2 = Seq(("g3", "a"), ("g3", "z"), ("g1", "a")).toDF("g", "k")

    HllMaintenance.build(b0, col("g"), col("k"), store)
    HllMaintenance.mergeDelta(spark, store, b1, col("g"), col("k"), "b1")
    HllMaintenance.mergeDelta(spark, store, b2, col("g"), col("k"), "b2")
    val maintained = regsOf(store)

    // mergeable-summary property: maintained == batch-built
    val full = Files.createTempDirectory("hll").toString + "/full"
    HllMaintenance.build(b0.unionByName(b1).unionByName(b2),
      col("g"), col("k"), full)
    assert(maintained === regsOf(full), "incremental regs != full recompute")
    // dense: 64 rows per observed group, incl. g3 first seen in b2
    assert(maintained.length === 3 * 64, "store must stay dense per group")

    // replayed epoch: ⊔-idempotent, no stamp needed
    HllMaintenance.mergeDelta(spark, store, b2, col("g"), col("k"), "b2r")
    assert(regsOf(store) === maintained, "replayed epoch changed the store")

    // register construction matches the imperative reference bit-for-bit
    val expected = imperativeRegs(Seq(("g1", "a"), ("g1", "b"), ("g2", "a"),
      ("g1", "b"), ("g1", "c"), ("g3", "a"), ("g3", "z"), ("g1", "a")))
    assert(maintained === expected, "regs != imperative md5 construction")
  }

  test("streaming maintenance converges to the batch register table; " +
    "estimates track exact distincts") {
    val base = Files.createTempDirectory("hll_stream").toString
    val (src, store) = (s"$base/src", s"$base/store")
    // 500 distinct keys in g1, 200 in g2 — both past raw HLL's
    // small-range bias knee (~2.5·m = 160; below it the estimator
    // needs the linear-counting branch this store deliberately omits)
    val f1 = (1 to 350).map(i => ("g1", s"k$i")) ++
      (1 to 120).map(i => ("g2", s"u$i"))
    val f2 = (300 to 500).map(i => ("g1", s"k$i")) ++
      (100 to 200).map(i => ("g2", s"u$i"))
    f1.toDF("g", "k").coalesce(1).write.parquet(src)
    f2.toDF("g", "k").coalesce(1).write.mode("append").parquet(src)

    HllMaintenance.build(spark.emptyDataset[(String, String)].toDF("g", "k"),
      col("g"), col("k"), store)
    HllMaintenance.start(spark, src, f1.toDF("g", "k").schema, store, "g", "k")
      .awaitTermination(120000)

    val full = s"$base/full"
    HllMaintenance.build(f1.toDF("g", "k").unionByName(f2.toDF("g", "k")),
      col("g"), col("k"), full)
    assert(regsOf(store) === regsOf(full), "streamed store != batch regs")

    // raw-HLL estimates within the sketch's error regime (m=64 →
    // ~13% relative error; deterministic hashes make this a fixed,
    // reproducible number, not a flaky statistical bound)
    val est = HllMaintenance.estimate(spark, store)
      .select("grp", "est_raw").as[(String, Double)].collect().toMap
    assert(math.abs(est("g1") - 500.0) / 500.0 < 0.35, est("g1"))
    assert(math.abs(est("g2") - 200.0) / 200.0 < 0.35, est("g2"))
  }
}
