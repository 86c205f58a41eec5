package graft.ops

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The [[MergeableStore]] kernel on its own: pointer and version
  * life cycle, the partitioned shape's per-partition versions, and the
  * collection of every dir the pointer stops naming. The crash and
  * release contracts per store live in StoreCrashSpec. */
class MergeableStoreSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("mstore").toString + "/store"

  private def dirsUnder(dir: String): Set[String] = {
    val root = new File(dir).toPath
    val it = Files.walk(root).filter(Files.isDirectory(_)).iterator()
    var out = Set.empty[String]
    while (it.hasNext) out += root.relativize(it.next()).toString
    out - ""
  }

  test("whole store: merge bootstraps from zero, each publish leaves one version dir") {
    val dir = fresh()
    assert(MergeableStore.readOption(spark, dir).isEmpty)
    assert(MergeableStore.version(dir) === -1L)
    def add(n: Long): Unit =
      MergeableStore.merge(spark, dir, Seq(0L).toDF("n")) { base =>
        Some(base.select((col("n") + n).as("n")).coalesce(1))
      }
    add(5)
    add(7)
    assert(MergeableStore.version(dir) === 1L)
    assert(MergeableStore.read(spark, dir).as[Long].collect().toSeq === Seq(12L))
    assert(dirsUnder(dir) === Set("data_v1"))
    // a None from the combine (the idempotence guard) publishes nothing
    MergeableStore.merge(spark, dir, Seq(0L).toDF("n"))(_ => None)
    assert(MergeableStore.version(dir) === 1L)
  }

  test("an orphan version from a failed flip is replaced by the next publish") {
    val dir = fresh()
    MergeableStore.publish(dir, Seq(1L).toDF("n"))
    // a crashed attempt at version 1: data written, pointer never moved
    Seq(99L).toDF("n").write.parquet(MergeableStore.versionDir(dir, 1L))
    assert(MergeableStore.read(spark, dir).as[Long].collect().toSeq === Seq(1L))
    MergeableStore.publish(dir, Seq(2L).toDF("n"))
    assert(MergeableStore.read(spark, dir).as[Long].collect().toSeq === Seq(2L))
    assert(dirsUnder(dir) === Set("data_v1"))
  }

  test("partitioned store: untouched partitions keep their dir; dropped ones are collected") {
    val dir = fresh()
    val parts = Seq("p")
    MergeableStore.publish(dir, Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("p", "n"), parts)
    val bBefore = MergeableStore.partitionDir(dir, "p=b")
    MergeableStore.publish(dir, Seq(("a", 10L), ("d", 4L)).toDF("p", "n"), parts,
      dropped = Set("p=c"))
    assert(MergeableStore.partitionDir(dir, "p=b") === bBefore)
    assert(MergeableStore.partitionDir(dir, "p=a").exists(_.endsWith("p=a/data_v1")))
    assert(MergeableStore.read(spark, dir).select("p", "n").as[(String, Long)]
      .collect().toSet === Set(("a", 10L), ("b", 2L), ("d", 4L)))
    assert(dirsUnder(dir) === Set("p=a", "p=a/data_v1", "p=b", "p=b/data_v0",
      "p=d", "p=d/data_v1"))
  }

  test("a partitioned store with no live partition still reads, with its schema") {
    val dir = fresh()
    MergeableStore.publish(dir, Seq(("a", 1L)).toDF("p", "n"), Seq("p"))
    MergeableStore.publish(dir, Seq(("a", 1L)).toDF("p", "n").filter(lit(false)),
      Seq("p"), dropped = Set("p=a"))
    val df = MergeableStore.read(spark, dir)
    assert(df.count() === 0L)
    assert(df.columns.toSeq === Seq("n", "p"))
    assert(dirsUnder(dir).isEmpty)
  }

  test("the pointer is the only manifest of a version: stages and the tmp file never survive") {
    val dir = fresh()
    MergeableStore.publish(dir, Seq(("a", 1L)).toDF("p", "n"), Seq("p"))
    MergeableStore.publish(dir, Seq(("b", 2L)).toDF("p", "n"), Seq("p"))
    val names = new File(dir).list().toSet
    assert(names === Set("_MANIFEST", "p=a", "p=b"))
  }

  test("a partitioned merge reads only the partitions its batch touches") {
    val dir = fresh()
    val parts = Seq("p")
    MergeableStore.publish(dir, Seq(("a", 1L), ("b", 2L)).toDF("p", "n"), parts)
    // an untouched partition's data file goes bad: a merge that read
    // (or inferred a schema over) every partition would fail on it
    val bDir = new File(MergeableStore.partitionDir(dir, "p=b").get)
    bDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.write(f.toPath, "not parquet".getBytes))
    val delta = Seq(("a", 10L), ("c", 3L)).toDF("p", "n")
    MergeableStore.mergePartitions(spark, dir, delta.filter(lit(false)), parts, delta) { store =>
      assert(store.select("p").as[String].collect().toSeq === Seq("a"))
      Some(store.join(delta.withColumnRenamed("n", "d"), Seq("p"), "full_outer")
        .select(col("p"), (coalesce(col("n"), lit(0L)) + col("d")).as("n")))
    }
    assert(spark.read.parquet(MergeableStore.partitionDir(dir, "p=a").get)
      .as[Long].collect().toSeq === Seq(11L))
    assert(spark.read.parquet(MergeableStore.partitionDir(dir, "p=c").get)
      .as[Long].collect().toSeq === Seq(3L))
    assert(MergeableStore.partitionDir(dir, "p=b").contains(bDir.getPath))
  }

  test("reads take the schema the manifest records: no footer job for either shape") {
    val whole = fresh()
    MergeableStore.publish(whole, Seq((1L, "x")).toDF("n", "s"))
    val parted = fresh()
    MergeableStore.publish(parted, Seq(("a", 1L), ("b", 2L)).toDF("p", "n"), Seq("p"))
    val (frames, jobs) = org.apache.spark.sql.graft.JobProbe.jobs(spark) {
      Seq(MergeableStore.read(spark, whole), MergeableStore.read(spark, parted))
    }
    assert(jobs === 0)
    assert(frames.map(_.columns.toSeq) === Seq(Seq("n", "s"), Seq("n", "p")))
    assert(frames(1).select("p", "n").as[(String, Long)].collect().toSet ===
      Set(("a", 1L), ("b", 2L)))
  }

  test("a stream start submits no job before its first batch") {
    // the caller declares the source schema, so starting the stream
    // infers nothing from the footers; the fold runs no action, so
    // any job here would be the stream's own
    val src = Files.createTempDirectory("mstore_src").toString + "/src"
    Seq((1L, "a")).toDF("n", "s").coalesce(1).write.parquet(src)
    Seq((2L, "b")).toDF("n", "s").coalesce(1).write.mode("append").parquet(src)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val (_, jobs) = org.apache.spark.sql.graft.JobProbe.jobs(spark) {
      MergeableStore.stream(spark, src, org.apache.spark.sql.types.StructType.fromDDL(
          "n bigint, s string"), s"$src-__checkpoint") { (_, id) => batches.add(id); () }
        .awaitTermination()
    }
    assert(batches.size === 2)
    assert(jobs === 0)
  }
}
