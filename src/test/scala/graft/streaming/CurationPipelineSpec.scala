package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The composed DAG (ingest → near-dup admission → rollup → atomic
  * publish) end-to-end: a real file-stream run with a mid-stream
  * restart, and a crash-injection pass that kills the epoch at EVERY
  * inter-stage boundary and proves the retried epoch converges to the
  * crash-free state (exactly-once effects all the way down).
  */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  // four distinct high-quality English families (pass the quality
  // floor + language agreement); in-family perturbations stay above
  // the LSH admission threshold, cross-family Jaccard is ~0
  private def fam(sentence: String) = (sentence + " ") * 3
  private val famA = fam("the quick brown fox jumps over the lazy dog and then the fox rests in the shade of a tall tree because it is tired")
  private val famB = fam("a gentle river flows through the wide green valley while the clear water shines under the warm morning sun and small birds sing")
  private val famC = fam("the old library keeps many ancient books on long wooden shelves and the patient readers enjoy the quiet rooms during every afternoon")
  private val famD = fam("fresh bread bakes slowly in the warm stone oven while the busy cook prepares a rich soup for the hungry guests there tonight")
  private val famE = fam("seven silver boats sail across the calm blue harbor as the evening light fades behind the distant hills and the crews wave home")
  private val famF = fam("tall mountain paths wind slowly upward through pine forests where cool winds carry the scent of rain and hikers pause to watch eagles")
  private def perturb(t: String) = t.split(" ").updated(5, "CHANGED").mkString(" ")

  // source varies by doc parity so the per-source CMS stage has a
  // non-degenerate key space to count
  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        concat(lit("s"), (col("doc_id") % 2).cast("string")).as("source"),
        length(col("text")).as("n_chars"))

  /** The streamed-through-crashes CMS store must be cell-for-cell
    * identical to a sketch batch-built over exactly the admitted docs
    * (linearity + exactly-once folding), and its probe estimates must
    * equal the exact per-source counts on this tiny key space. */
  private def assertSketchConverged(dirs: CurationPipeline.Dirs,
      admitted: Set[Long]): Unit = {
    val expectFrame = admitted.toSeq.sorted
      .toDF("doc_id")
      .select(concat(lit("s"), (col("doc_id") % 2).cast("string")).as("source"))
    val refDir = Files.createTempDirectory("cms_ref").toString
    SketchMaintenance.build(expectFrame, col("source"), refDir)
    val streamed = spark.read.parquet(graft.ops.MergeableStore.liveDir(dirs.sketch))
      .select("i", "b", "c")
    val ref = spark.read.parquet(graft.ops.MergeableStore.liveDir(refDir))
      .select(col("i"), col("b"), col("c").as("c_ref"))
    assert(streamed.count() === 1024L)
    val mismatches = streamed.join(ref, Seq("i", "b"), "full")
      .filter(col("c").isNull || col("c_ref").isNull || col("c") =!= col("c_ref"))
      .count()
    assert(mismatches === 0L, "streamed CMS cells differ from batch-built")
    // probe path: estimates equal exact counts (deterministic hashes,
    // 2 keys in 4×256 cells — no saturating collisions)
    val exact = admitted.toSeq.groupBy(_ % 2).map { case (p, ds) =>
      (s"s$p", ds.size.toLong) }
    val est = SketchMaintenance.probe(spark, dirs.sketch,
      exact.keys.toSeq.toDF("k"), col("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === exact, s"probe $est vs exact $exact")
  }

  private def publishedIds(publishDir: String): Seq[Long] = {
    val dirs = Option(new java.io.File(publishDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    // readers gate on the manifest: every batch dir must carry _SUCCESS
    dirs.foreach { d =>
      assert(new java.io.File(d, "_SUCCESS").exists(), s"no _SUCCESS in $d")
    }
    dirs.flatMap { d =>
      val parts = d.listFiles().filter(_.getName.startsWith("part-"))
      parts.flatMap(p =>
        scala.io.Source.fromFile(p).getLines().map(_.split("\t")(0).toLong))
    }
  }

  private def indexedIds(dirs: CurationPipeline.Dirs): Seq[Long] =
    spark.read.option("basePath", s"${dirs.nearDupIndex}/sigs")
      .parquet(s"${dirs.nearDupIndex}/sigs")
      .select("doc_id").as[Long].collect().sorted.toSeq

  test("composed file-stream DAG with mid-stream restart: exactly-once all the way down") {
    val base = Files.createTempDirectory("curation_pipe").toString
    val dirs = CurationPipeline.Dirs(s"$base/pipe")
    val src = s"$base/src"

    // run 1: two fresh families
    docs((1L, famA), (2L, famB)).coalesce(1).write.parquet(src)
    CurationPipeline.start(spark, src, docs().schema, dirs).awaitTermination(120000)

    // new files arrive, then a NEW query resumes from the checkpoint:
    //  - 3 near-dups famA  (must be caught against the PRE-restart index)
    //  - 4 exact-dups famB (punctuation only — same normalized hash)
    //  - 5 fresh famC, 6 fails the quality floor
    //  - 7 near-dups famC (same post-restart run), 8 fresh famD
    docs((3L, perturb(famA)), (4L, famB + "!!!"), (5L, famC),
      (6L, "short low quality")).coalesce(1).write.mode("append").parquet(src)
    docs((7L, perturb(famC)), (8L, famD)).coalesce(1)
      .write.mode("append").parquet(src)
    CurationPipeline.start(spark, src, docs().schema, dirs).awaitTermination(120000)

    val expected = Set(1L, 2L, 5L, 8L)
    val published = publishedIds(dirs.publish)
    assert(published.length === published.distinct.length,
      s"duplicate publishes: $published")
    assert(published.toSet === expected, published.sorted)
    assert(indexedIds(dirs).toSet === expected)

    // the rollup counted each admitted doc exactly once, with the
    // admitted quality mass (no double-merge across restart)
    val rollup = spark.read.parquet(dirs.rollup)
      .agg(sum("n_events"), sum(col("total_value").cast("decimal(12,2)")))
      .head()
    assert(rollup.getLong(0) === 4L, rollup)
    val quality = spark.read.option("basePath", dirs.curated)
      .parquet(dirs.curated)
      .filter(col("doc_id").isin(expected.toSeq: _*))
      .agg(sum(col("quality").cast("decimal(12,2)"))).head().getDecimal(0)
    assert(rollup.getDecimal(1) === quality, s"$rollup vs $quality")

    // the CMS store survived the restart with exactly-once folds
    assertSketchConverged(dirs, expected)
  }

  test("an all-filtered FIRST batch leaves a bootstrappable rollup store") {
    // batch 0 admits nothing (every doc fails the quality floor): the
    // partitioned store write commits a directory with NO data files.
    // The next batch's bootstrap-vs-merge dispatch must treat that as
    // "no store yet" — a bare dir-exists check would send batch 1 down
    // mergeDelta's store read, which fails schema inference on a
    // dataless dir, deterministically, on every retry (stream wedged).
    val base = Files.createTempDirectory("curation_empty").toString
    val dirs = CurationPipeline.Dirs(s"$base/pipe")
    CurationPipeline.processBatch(spark,
      docs((1L, "short low quality"), (2L, "tiny")), dirs, 0L)
    CurationPipeline.processBatch(spark, docs((3L, famA)), dirs, 1L)
    CurationPipeline.processBatch(spark, docs((3L, famA)), dirs, 1L) // retry

    assert(publishedIds(dirs.publish).toSet === Set(3L))
    val rollup = spark.read.parquet(dirs.rollup)
      .agg(sum("n_events")).head()
    assert(rollup.getLong(0) === 1L, rollup)
    // the all-filtered batch 0 built the all-zero sketch (1024
    // committed rows — no dataless-dir hazard); batch 1 and its
    // retry folded doc 3 exactly once
    assertSketchConverged(dirs, Set(3L))
  }

  test("a crash at EVERY inter-stage boundary converges on retry") {
    val base = Files.createTempDirectory("curation_crash").toString
    val dirs = CurationPipeline.Dirs(s"$base/pipe")

    def survivorsWithText(b: org.apache.spark.sql.DataFrame, id: Long) =
      spark.read.parquet(s"${dirs.curated}/batch_id=$id")
        .join(b.select("doc_id", "text"), "doc_id")

    // batch 0: crash-free
    CurationPipeline.processBatch(spark,
      docs((1L, famA), (2L, famB)), dirs, 0L)

    // batch 1 — crash AFTER stage 1 (exact ledger written, nothing
    // else): the retry must re-run the suffix without re-admitting
    val b1 = docs((3L, perturb(famA)), (4L, famC))
    CurationIngest.processBatch(spark, b1, dirs.curated, dirs.ledger, 1L)
    CurationPipeline.processBatch(spark, b1, dirs, 1L) // retry

    // batch 2 — crash AFTER stage 2 (signature index also written)
    val b2 = docs((5L, perturb(famC)), (6L, famD))
    CurationIngest.processBatch(spark, b2, dirs.curated, dirs.ledger, 2L)
    IncrementalNearDup.processBatch(spark,
      survivorsWithText(b2, 2L).select("doc_id", "text"), dirs.nearDupIndex, 2L)
    CurationPipeline.processBatch(spark, b2, dirs, 2L) // retry

    // batch 3 — crash AFTER stage 3 (rollup already merged with this
    // batch's stamp): the retry must NOT double-merge
    val b3 = docs((7L, famE))
    CurationIngest.processBatch(spark, b3, dirs.curated, dirs.ledger, 3L)
    val admitted3 = IncrementalNearDup.processBatch(spark,
      survivorsWithText(b3, 3L).select("doc_id", "text"), dirs.nearDupIndex, 3L)
    val events3 = survivorsWithText(b3, 3L)
      .join(admitted3, Seq("doc_id"), "left_semi")
      .select(to_timestamp(from_unixtime(lit(1700000000L) + col("doc_id") * 60)).as("ts"),
        col("lang").as("event_type"), col("quality").cast("double").as("value"))
    RollupMaintenance.mergeDelta(spark, dirs.rollup, events3, "b3")
    CurationPipeline.processBatch(spark, b3, dirs, 3L) // retry

    // batch 4 — crash AFTER stage 4 (CMS sketch already folded with
    // this batch's stamp, publish missing): the retry must rewrite
    // the sketch UNCHANGED (stamp guard) and produce only the publish
    val b4 = docs((8L, famF))
    CurationIngest.processBatch(spark, b4, dirs.curated, dirs.ledger, 4L)
    val admitted4 = IncrementalNearDup.processBatch(spark,
      survivorsWithText(b4, 4L).select("doc_id", "text"), dirs.nearDupIndex, 4L)
    val events4 = survivorsWithText(b4, 4L)
      .join(admitted4, Seq("doc_id"), "left_semi")
      .select(to_timestamp(from_unixtime(lit(1700000000L) + col("doc_id") * 60)).as("ts"),
        col("lang").as("event_type"), col("quality").cast("double").as("value"))
    RollupMaintenance.mergeDelta(spark, dirs.rollup, events4, "b4")
    SketchMaintenance.mergeDelta(spark, dirs.sketch,
      survivorsWithText(b4, 4L).join(admitted4, Seq("doc_id"), "left_semi")
        .join(b4.select("doc_id", "source"), "doc_id"),
      col("source"), "b4")
    CurationPipeline.processBatch(spark, b4, dirs, 4L) // retry

    // converged state == the crash-free outcome
    val expected = Set(1L, 2L, 4L, 6L, 7L, 8L)
    val published = publishedIds(dirs.publish)
    assert(published.length === published.distinct.length,
      s"duplicate publishes: $published")
    assert(published.toSet === expected, published.sorted)
    assert(indexedIds(dirs).toSet === expected)

    // rollup: exactly one count per admitted doc (the crash-C
    // double-merge trap), quality mass equal to the admitted docs'
    val rollup = spark.read.parquet(dirs.rollup)
      .agg(sum("n_events"), sum(col("total_value").cast("decimal(12,2)")))
      .head()
    assert(rollup.getLong(0) === 6L, rollup)
    val quality = spark.read.option("basePath", dirs.curated)
      .parquet(dirs.curated)
      .filter(col("doc_id").isin(expected.toSeq: _*))
      .agg(sum(col("quality").cast("decimal(12,2)"))).head().getDecimal(0)
    assert(rollup.getDecimal(1) === quality, s"$rollup vs $quality")

    // the sketch through every crash schedule (incl. the batch-4
    // crash-after-fold) == one batch-built sketch of the admitted set
    assertSketchConverged(dirs, expected)
  }

  test("a crash with the sketch folded and the rollup not merged converges to the crash-free store") {
    // stages 3 and 4 run together, so a crash can leave either store
    // holding a batch the other does not
    val base = Files.createTempDirectory("curation_half").toString
    val crashed = CurationPipeline.Dirs(s"$base/crashed")
    val clean = CurationPipeline.Dirs(s"$base/clean")
    val b0 = docs((1L, famA), (2L, famB))
    val b1 = docs((3L, perturb(famA)), (4L, famC), (5L, famD))
    Seq(crashed, clean).foreach(CurationPipeline.processBatch(spark, b0, _, 0L))
    CurationPipeline.processBatch(spark, b1, clean, 1L)

    // batch 1 on the crashed side: ingest, near-dup and the sketch fold
    // are durable, the rollup merge and the publish are not
    CurationIngest.processBatch(spark, b1, crashed.curated, crashed.ledger, 1L)
    val withText = spark.read.parquet(s"${crashed.curated}/batch_id=1")
      .join(b1.select("doc_id", "text"), "doc_id")
    val admitted = IncrementalNearDup.processBatch(spark,
      withText.select("doc_id", "text"), crashed.nearDupIndex, 1L)
    SketchMaintenance.mergeDelta(spark, crashed.sketch,
      withText.join(admitted, Seq("doc_id"), "left_semi")
        .join(b1.select("doc_id", "source"), "doc_id"),
      col("source"), "b1")
    CurationPipeline.processBatch(spark, b1, crashed, 1L) // retry

    def rollup(d: CurationPipeline.Dirs) = graft.ops.MergeableStore.read(spark, d.rollup)
      .select("hour", "event_type", "n_events", "total_value", "last_batch")
      .collect().toSet
    def cells(d: CurationPipeline.Dirs) =
      SketchMaintenance.read(spark, d.sketch).collect().toSet
    assert(rollup(clean).toSeq.map(_.getLong(2)).sum === 4L)
    assert(rollup(crashed) === rollup(clean))
    assert(cells(crashed) === cells(clean))
    assert(publishedIds(clean.publish).toSet === Set(1L, 2L, 4L, 5L))
    assert(publishedIds(crashed.publish).sorted === publishedIds(clean.publish).sorted)
    assert(indexedIds(crashed) === indexedIds(clean))
  }
}
