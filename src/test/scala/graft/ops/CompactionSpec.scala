package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compaction merges many small files without changing the data") {
    val dir = Files.createTempDirectory("compact").toString + "/events"
    // simulate 20 micro-batch appends => 20+ small files
    val df = (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
    df.repartition(20).write.parquet(dir)
    val before = Compaction.dataFileCount(spark, dir)
    assert(before >= 20)
    val checksum = spark.read.parquet(dir)
      .agg(sum("id"), count(lit(1))).first()

    val (after, _) = Compaction.compact(spark, dir, targetBytes = 1L << 30)

    assert(after === 1) // tiny data, one target file
    assert(Compaction.dataFileCount(spark, dir) === 1)
    assert(spark.read.parquet(dir)
      .agg(sum("id"), count(lit(1))).first() === checksum)
  }

  test("compaction preserves hive partition layout (pruning survives)") {
    val dir = Files.createTempDirectory("compact_part").toString + "/fact"
    val df = (1 to 400).map(i => (i.toLong, s"2024-01-0${i % 4 + 1}"))
      .toDF("id", "record_date")
    df.repartition(10).write.partitionBy("record_date").parquet(dir)
    assert(Compaction.partitionColumns(spark, dir) === Seq("record_date"))

    Compaction.compact(spark, dir, targetBytes = 1L << 30)

    // partition dirs still exist -> partition pruning still works
    assert(Compaction.partitionColumns(spark, dir) === Seq("record_date"))
    val pruned = spark.read.parquet(dir)
      .filter(col("record_date") === "2024-01-02")
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: [isnotnull(record_date"), plan)
    assert(pruned.count() === 100)
    assert(spark.read.parquet(dir).count() === 400)
  }

  test("compaction aborts cleanly if the directory changes mid-rewrite") {
    val dir = Files.createTempDirectory("compact_race").toString + "/t"
    (1 to 100).toDF("id").repartition(4).write.parquet(dir)
    // inject a concurrent micro-batch append between the rewrite and
    // the swap: the changed-file-set detector must ABORT with the
    // original (plus the append) intact. Without the detector, the
    // appended file was swapped into the backup and deleted.
    val e = intercept[java.io.IOException] {
      Compaction.compact(spark, dir, targetBytes = 1L << 30,
        onBeforeSwap = () =>
          (101 to 110).toDF("id").coalesce(1).write.mode("append").parquet(dir))
    }
    assert(e.getMessage.contains("changed during rewrite"), e.getMessage)
    assert(spark.read.parquet(dir).count() === 110L) // nothing lost
    // and a clean rerun (no concurrent writer) succeeds
    Compaction.compact(spark, dir, targetBytes = 1L << 30)
    assert(spark.read.parquet(dir).count() === 110L)
  }

  test("compaction plan has no shuffle (coalesce, not repartition)") {
    val dir = Files.createTempDirectory("compact2").toString + "/t"
    (1 to 100).toDF("id").repartition(8).write.parquet(dir)
    val plan = spark.read.parquet(dir).coalesce(1)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Coalesce"), plan)
  }
}
