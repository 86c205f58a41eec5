package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.streaming.CurationPipeline

/** spark-submit entry point for the composed curation DAG
  * ([[CurationPipeline]]: ingest → near-dup admission → rollup →
  * CMS maintenance → atomic publish) — the LLM-data twin of
  * [[EtlJob]], scheduled by `airflow/graft_curation_dag.py` on the
  * same cadence pattern as the reference's 5-minute micro-batch.
  * AvailableNow + checkpoint: each scheduled run drains the files
  * that arrived since the last run and exits; a rerun of a failed
  * slot resumes at the first uncommitted epoch and replays it
  * through the pipeline's idempotent stages.
  *
  * Usage: CurationJob <sourceDir> <baseDir> [tau]
  */
object CurationJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CurationJob <sourceDir> <baseDir> [tau]")
    val tau = if (args.length > 2) args(2).toDouble else 0.5
    // spark-submit provides spark.master; default to local otherwise
    // so the job also runs bare (harness, ad-hoc reprocessing)
    val b = SparkSession.builder()
      .appName("graft-curation")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", 32)
    val spark = (if (sys.props.contains("spark.master")) b
      else b.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .getOrCreate()
    // slot wall time rides in the emitted JSON so scheduled runs leave
    // a scale record behind (the slot-scaling artifact: compare the
    // line across source scales to see per-epoch constant vs per-row
    // cost — a slot must finish well inside its schedule interval)
    val t0 = System.nanoTime()
    val stats = run(spark, args(0), args(1), tau)
    val wall = (System.nanoTime() - t0) / 1e9
    println(s"""{"published_batches":${stats("published_batches")},""" +
      s""""admitted_docs":${stats("admitted_docs")},""" +
      s""""slot_wall_sec":$wall,"base":"${args(1)}"}""")
    spark.stop()
  }

  /** The landing files' row shape: the document columns the pipeline
    * reads (a landing file may carry more; those are not read). */
  val Documents: StructType =
    StructType.fromDDL("doc_id bigint, text string, lang string, source string")

  /** Library entry (testable without spark-submit). Returns the
    * durable outcome counts, read back from the stores the pipeline
    * committed — not from in-flight state — so a caller sees exactly
    * what a downstream reader sees. */
  def run(spark: SparkSession, sourceDir: String, baseDir: String,
      tau: Double = 0.5): Map[String, Long] = {
    val dirs = CurationPipeline.Dirs(baseDir)
    CurationPipeline.start(spark, sourceDir, Documents, dirs, tau).awaitTermination()
    val publishedBatches = Option(new java.io.File(dirs.publish).listFiles())
      .toSeq.flatten
      .count(d => d.isDirectory && d.getName.startsWith("batch_id=") &&
        new java.io.File(d, "_SUCCESS").exists())
    val admitted =
      if (graft.ops.Fs.hasCommittedParquet(
          new java.io.File(s"${dirs.nearDupIndex}/sigs")))
        // declared as the pipeline writes the index's id column: a
        // count reads no column, and needs no footer job to plan
        spark.read.schema("doc_id bigint")
          .option("basePath", s"${dirs.nearDupIndex}/sigs")
          .parquet(s"${dirs.nearDupIndex}/sigs").count()
      else 0L
    Map("published_batches" -> publishedBatches.toLong,
      "admitted_docs" -> admitted)
  }
}
