package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IncrementalNearDupSpec extends SparkSpec {
  import spark.implicits._

  // distinct long documents (shingle sets far apart), plus
  // near-duplicates made by light token edits
  private val baseA = (1 to 60).map(i => s"alpha$i").mkString(" ")
  private val baseB = (1 to 60).map(i => s"beta$i").mkString(" ")
  private val baseC = (1 to 60).map(i => s"gamma$i").mkString(" ")
  private def perturb(t: String) = t.split(" ").updated(5, "CHANGED").mkString(" ")

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  test("near-dups are rejected across batches via the signature index") {
    val base = Files.createTempDirectory("inc_neardup").toString
    val idx = s"$base/idx"

    // batch 0: A and B admitted
    val a0 = IncrementalNearDup.processBatch(spark,
      docs((1L, baseA), (2L, baseB)), idx, batchId = 0L)
      .as[Long].collect().sorted.toSeq
    assert(a0 === Seq(1L, 2L))

    // batch 1: near-dup of A (rejected vs INDEX), fresh C (admitted),
    // in-batch near-dup pair (4 keeps, 5 drops)
    val a1 = IncrementalNearDup.processBatch(spark,
      docs((3L, perturb(baseA)), (4L, baseC), (5L, perturb(baseC))),
      idx, batchId = 1L)
      .as[Long].collect().sorted.toSeq
    assert(a1 === Seq(4L))

    // the index accumulated exactly the admitted docs
    val indexed = spark.read.option("basePath", s"$idx/sigs")
      .parquet(s"$idx/sigs").select("doc_id").as[Long].collect().sorted.toSeq
    assert(indexed === Seq(1L, 2L, 4L))
  }

  test("a retried batch converges (replay-idempotent index)") {
    val base = Files.createTempDirectory("inc_retry").toString
    val idx = s"$base/idx"
    IncrementalNearDup.processBatch(spark, docs((1L, baseA)), idx, 0L)

    val b1 = docs((2L, baseB), (3L, perturb(baseA)))
    val first = IncrementalNearDup.processBatch(spark, b1, idx, 1L)
      .as[Long].collect().sorted.toSeq
    val retry = IncrementalNearDup.processBatch(spark, b1, idx, 1L)
      .as[Long].collect().sorted.toSeq
    assert(first === Seq(2L))
    assert(retry === first) // own half-written partition excluded

    val indexed = spark.read.option("basePath", s"$idx/sigs")
      .parquet(s"$idx/sigs").select("doc_id").as[Long].collect().sorted.toSeq
    assert(indexed === Seq(1L, 2L)) // no duplicated index rows
  }

  test("50-batch soak: cross-batch dups rejected, retries idempotent, index stays compact") {
    val base = Files.createTempDirectory("inc_soak").toString
    val idx = s"$base/idx"
    def family(f: Int) = (1 to 40).map(i => s"fam${f}_tok$i").mkString(" ")

    var admittedAll = Set.empty[Long]
    for (b <- 0 until 50) {
      // each batch: one fresh family (must admit) and, from batch 1 on,
      // a light perturbation of the PREVIOUS batch's family (must be
      // rejected against the accumulated index — a dup straddling the
      // batch boundary)
      val rows = Seq((100L + 2 * b, family(b))) ++
        (if (b > 0) Seq((101L + 2 * b, perturb(family(b - 1)))) else Nil)
      val admitted = IncrementalNearDup.processBatch(spark, docs(rows: _*), idx, b.toLong)
        .as[Long].collect().toSet
      assert(admitted === Set(100L + 2 * b),
        s"batch $b admitted $admitted")
      // every 10th batch is replayed (foreachBatch retry semantics):
      // same admission set, no index growth
      if (b % 10 == 9) {
        val retry = IncrementalNearDup.processBatch(spark, docs(rows: _*), idx, b.toLong)
          .as[Long].collect().toSet
        assert(retry === admitted, s"batch $b retry diverged: $retry")
      }
      admittedAll ++= admitted
    }
    assert(admittedAll.size === 50)

    // the index holds EXACTLY one signature row per admitted doc
    // (retries overwrote their own partition, never appended) ...
    val sigs = spark.read.option("basePath", s"$idx/sigs").parquet(s"$idx/sigs")
    val ids = sigs.select("doc_id").as[Long].collect().toSeq
    assert(ids.length === 50 && ids.toSet === admittedAll)
    // ... at the contract size: 64 longs per doc, 16 band rows per doc
    val sigLens = sigs.select(size(col("sig"))).distinct().as[Int].collect().toSeq
    assert(sigLens === Seq(IncrementalNearDup.K))
    val bandRows = spark.read.option("basePath", s"$idx/bands")
      .parquet(s"$idx/bands").count()
    assert(bandRows === 50L * IncrementalNearDup.Bands)
  }

  test("mid-stream restart: a second start() on the same checkpoint resumes, no re-admission") {
    val base = Files.createTempDirectory("inc_restart").toString
    val (src, idx, out) = (s"$base/src", s"$base/idx", s"$base/out")

    // run 1: A and B land
    docs((1L, baseA)).coalesce(1).write.parquet(src)
    docs((2L, baseB)).coalesce(1).write.mode("append").parquet(src)
    val q1 = IncrementalNearDup.start(spark, src, docs().schema, idx, out)
    q1.awaitTermination(120000)

    // "restart": new files arrive — a near-dup of A (must be caught
    // against the PRE-restart index), a fresh C — and a new query
    // starts from the same checkpoint
    docs((3L, perturb(baseA)), (4L, baseC)).coalesce(1)
      .write.mode("append").parquet(src)
    val q2 = IncrementalNearDup.start(spark, src, docs().schema, idx, out)
    q2.awaitTermination(120000)

    val admitted = spark.read.option("basePath", out).parquet(out)
      .select("doc_id").as[Long].collect().toSeq
    assert(admitted.length === admitted.distinct.length, s"dup admissions: $admitted")
    assert(admitted.toSet === Set(1L, 2L, 4L), admitted)

    // post-restart index: one sig row per admitted doc, nothing replayed
    val ids = spark.read.option("basePath", s"$idx/sigs").parquet(s"$idx/sigs")
      .select("doc_id").as[Long].collect().toSeq
    assert(ids.sorted === Seq(1L, 2L, 4L), ids)
  }

  test("file-stream form admits one keeper per near-dup family") {
    val base = Files.createTempDirectory("inc_stream").toString
    val (src, idx, out) = (s"$base/src", s"$base/idx", s"$base/out")
    docs((1L, baseA), (2L, baseB)).write.parquet(src)
    docs((3L, perturb(baseB)), (4L, baseC)).coalesce(1)
      .write.mode("append").parquet(src)

    val q = IncrementalNearDup.start(spark, src, docs().schema, idx, out)
    q.awaitTermination(120000)

    val admitted = spark.read.option("basePath", out).parquet(out)
      .select("doc_id").as[Long].collect().toSet
    // exactly one of {2,3} (whichever file arrived first), plus 1 and 4
    assert(admitted.contains(1L) && admitted.contains(4L))
    assert(admitted.intersect(Set(2L, 3L)).size === 1)
    assert(admitted.size === 3)
  }
}
