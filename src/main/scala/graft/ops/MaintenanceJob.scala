package graft.ops

import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the idle-window table maintenance a
  * micro-batch writer accretes: small-file compaction
  * ([[Compaction.compact]] — crash-safe rename swap, aborts cleanly
  * if a concurrent writer appended) followed by a statistics refresh
  * ([[TableStats.write]] — the one-pass column stats the stats-gated
  * broadcast planner reads). Scheduled DOWNSTREAM of the writer task
  * in the same Airflow slot (`airflow/graft_curation_dag.py`), which
  * is exactly the single-writer window Compaction's contract asks
  * for.
  *
  * Usage: MaintenanceJob <dir> [targetMB] [histCol ...]
  */
object MaintenanceJob {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: MaintenanceJob <dir> [targetMB] [histCol ...]")
    val targetBytes =
      (if (args.length > 1) args(1).toLong else 128L) * 1024L * 1024L
    // spark-submit provides spark.master; default to local otherwise
    val b = SparkSession.builder().appName("graft-maintenance")
    val spark = (if (sys.props.contains("spark.master")) b
      else b.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .getOrCreate()
    val stats = run(spark, args(0), targetBytes, args.drop(2).toSeq)
    println(s"""{"data_files":${stats("data_files")},""" +
      s""""rows":${stats("rows")},"dir":"${args(0)}"}""")
    spark.stop()
  }

  /** Library entry. Stats land beside the table at `<dir>-__stats`
    * (the layout [[TableStats.statsJoin]] consumers read); for each
    * column in `histColumns`, a 20-bucket equi-depth histogram lands
    * at `<dir>-__hist/<col>` — the boundary frame
    * [[Histogram.estimateLe]]/[[Histogram.broadcastIfRangeSmall]]
    * consult, refreshed in the same idle window as the row-count
    * stats it extends. The histogram sorts on the value alone: rank
    * positions inside runs of EQUAL values depend on partitioning,
    * but the boundary VALUE at every rank is deterministic — which
    * is the part an estimate reads — so a stats artifact needs no
    * unique tiebreak column. */
  def run(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      histColumns: Seq[String] = Nil): Map[String, Long] = {
    val (files, schema) = Compaction.compact(spark, dir, targetBytes)
    val df = spark.read.schema(schema).parquet(dir)
    TableStats.write(df, s"$dir-__stats")
    histColumns.foreach { c =>
      Histogram.write(
        Histogram.equiDepth(df, Seq(org.apache.spark.sql.functions.col(c)), 20)
          .select(org.apache.spark.sql.functions.col(c).as("v"),
            org.apache.spark.sql.functions.col("rank"),
            org.apache.spark.sql.functions.col("n_total")),
        s"$dir-__hist/$c")
    }
    val rows = TableStats.rowCount(TableStats.read(spark, s"$dir-__stats"))
    Map("data_files" -> files.toLong, "rows" -> rows)
  }
}
