package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ext.VectorFunctions.asDouble

class VectorIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("materialized IVF index: partition-pruned probe matches the in-memory IVF query") {
    val dir = Files.createTempDirectory("ivf_index").toString + "/index"
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // the SAME Lloyd-trained centroids q_ann_ivf uses — bit-parity of
    // the materialized path depends on identical centroids
    val centroids = graft.ext.Similarity.trainedCentroids(emb, iters = 2)
    VectorIndex.build(emb, centroids, dir)

    // one hive partition per centroid bucket on disk
    val bucketDirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("bucket="))
    assert(bucketDirs.length > 1 && bucketDirs.length <= 16, bucketDirs.toSeq)

    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val probed = VectorIndex.probe(spark, dir, queries, centroids,
      nprobe = 2, k = 5)

    // partition pruning is in the plan: the index scan carries a
    // PartitionFilters entry on the bucket column
    val plan = probed.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)

    // and the result matches the fully in-memory IVF formulation
    // (same centroids, same nprobe/k, same tiebreaks)
    val inMemory = graft.SparkEntry.queries("q_ann_ivf")(spark, sf)
      .collect().map(_.toSeq).sortBy(_.toString)
    val fromIndex = probed.collect().map(_.toSeq).sortBy(_.toString)
    assert(fromIndex.toSeq === inMemory.toSeq)
  }

  private def embWithLabel = Tables(spark, sf, "embeddings")
    .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))

  test("mergeDelta: merged index probes bit-identical to a full rebuild; replay is a no-op") {
    val base = Files.createTempDirectory("ivf_merge").toString
    val emb = embWithLabel
    val centroids = graft.ext.Similarity.trainedCentroids(
      emb.select("vec_id", "v"), iters = 2)

    // grown index: build on half the corpus, merge the other half in
    val grown = s"$base/grown"
    VectorIndex.build(emb.filter(col("vec_id") % 2 === 0), centroids, grown)
    val appended = VectorIndex.mergeDelta(spark, grown,
      emb.filter(col("vec_id") % 2 === 1), centroids)
    assert(appended > 0)

    // rebuilt index: one build over the union corpus, same centroids
    val rebuilt = s"$base/rebuilt"
    VectorIndex.build(emb, centroids, rebuilt)

    // assignment against FROZEN centroids is per-row deterministic, so
    // the two layouts must probe bit-identically
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    def probeAll(dir: String) =
      VectorIndex.probe(spark, dir, queries, centroids, nprobe = 2, k = 5)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(probeAll(grown) === probeAll(rebuilt))

    // replaying the SAME delta (crash/retry) admits nothing: the
    // vec_id anti-join makes maintenance idempotent
    val replayed = VectorIndex.mergeDelta(spark, grown,
      emb.filter(col("vec_id") % 2 === 1), centroids)
    assert(replayed === 0L)
    assert(spark.read.parquet(grown).count() ===
      spark.read.parquet(rebuilt).count())
  }

  test("filtered probe: metadata predicate is pushed into the pruned scan") {
    val dir = Files.createTempDirectory("ivf_filtered").toString + "/index"
    val emb = embWithLabel
    val centroids = graft.ext.Similarity.trainedCentroids(
      emb.select("vec_id", "v"), iters = 2)
    VectorIndex.build(emb, centroids, dir) // label rides along into the layout

    val lbl = emb.filter(col("vec_id") === 0).select("label").head().getInt(0)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val filtered = VectorIndex.probe(spark, dir, queries, centroids,
      nprobe = 4, k = 5, metaFilter = Some(col("label") === lbl))

    // the label predicate reaches the index scan as a DATA filter on
    // top of the bucket PartitionFilters — post-filtering skips row
    // groups inside the probed partitions, it never widens the scan
    filtered.collect()
    val idxScans = execNodes(filtered).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.mkString(",").contains("ivf_filtered") => s
    }
    assert(idxScans.nonEmpty)
    idxScans.foreach { s =>
      assert(s.partitionFilters.mkString(" ").contains("bucket"),
        s"no bucket partition pruning: ${s.partitionFilters}")
      assert(s.dataFilters.mkString(" ").contains("label"),
        s"label predicate not pushed into the scan: ${s.dataFilters}")
    }

    // post-filter semantics: identical to re-ranking the UNfiltered
    // probe's label survivors (computed with an un-capped k so no
    // survivor is cut before the filter) — and the starvation trade is
    // real: rows-per-query may drop below k when the label is rare in
    // the probed buckets
    val corpus = spark.read.parquet(dir).count().toInt
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    val expected = VectorIndex.probe(spark, dir, queries, centroids,
        nprobe = 4, k = corpus)
      .join(emb.filter(col("label") === lbl).select(col("vec_id").as("n_id")),
        "n_id")
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "n_id", "sim")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val got = filtered.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(got === expected)
    val perQuery = filtered.groupBy("q_id").count()
      .agg(min("count"), max("count")).head()
    info(s"filtered probe rows/query: min=${perQuery.getLong(0)} " +
      s"max=${perQuery.getLong(1)} (k=5; < k ⇒ label starved in probed buckets)")
  }

  test("compaction closes the maintenance lifecycle: merged index " +
    "compacts to fewer files, probes bit-identical, stays pruned") {
    val dir = Files.createTempDirectory("ivf_compact").toString + "/index"
    val emb = embWithLabel
    val centroids = graft.ext.Similarity.trainedCentroids(
      emb.select("vec_id", "v"), iters = 2)
    // build small, then grow by three deltas — each append lays down
    // its own files per bucket partition (the small-file problem the
    // micro-batch cadence creates)
    VectorIndex.build(emb.filter(col("vec_id") % 4 === 0), centroids, dir)
    for (r <- 1 to 3)
      VectorIndex.mergeDelta(spark, dir,
        emb.filter(col("vec_id") % 4 === r), centroids)

    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    def probeAll() =
      VectorIndex.probe(spark, dir, queries, centroids, nprobe = 2, k = 5)
    val before = probeAll().collect().map(_.toSeq).sortBy(_.toString).toSeq
    val filesBefore = Compaction.dataFileCount(spark, dir)

    // the GENERIC compactor preserves hive partition columns, so the
    // index layout needs no special-case maintenance path
    val (filesAfter, _) = Compaction.compact(spark, dir)
    assert(filesAfter < filesBefore,
      s"compaction did not shrink: $filesBefore -> $filesAfter")
    assert(Compaction.partitionColumns(spark, dir) === Seq("bucket"),
      "bucket partitioning lost in the rewrite")

    // probe-after-compact: bit-identical AND still partition-pruned
    val probed = probeAll()
    probed.collect()
    val scans = execNodes(probed).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.mkString(",")
            .contains("ivf_compact") => s
    }
    assert(scans.nonEmpty)
    scans.foreach(s => assert(
      s.partitionFilters.mkString(" ").contains("bucket"),
      s"pruning lost after compaction: ${s.partitionFilters}"))
    assert(probed.collect().map(_.toSeq).sortBy(_.toString).toSeq === before)
  }
}
