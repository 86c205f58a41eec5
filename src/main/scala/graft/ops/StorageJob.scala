package graft.ops

import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the MANAGED-TABLE maintenance slot —
  * the operational loop behind the round-9 storage wave, scheduled by
  * `airflow/graft_storage_dag.py` (same deployment shape as
  * [[MaintenanceJob]]: the Spark jobs are the engine, Airflow is the
  * clock):
  *
  *  1. drain the delete feed — [[DeleteLedger.start]] folds every new
  *     delete-key file into the ledger (exactly-once by composition:
  *     at-least-once delivery × self-replacing batch overwrite);
  *  2. compact when the ledger has grown past `compactAtRows` —
  *     [[DeleteLedger.compact]] folds deletes into a new data
  *     version (reads stop paying the anti-join), REPRODUCING the
  *     table's declared [[Layout.Spec]] so the clustering the
  *     zone-map catalog prunes on survives the rewrite (without the
  *     declared layout a compaction would silently reset file
  *     skipping to ~zero), then [[DeleteLedger.vacuum]] bounds
  *     time-travel history;
  *  3. refresh the zone-map catalog — [[ZoneMap.update]] stats ONLY
  *     the files new since the last slot, which is what re-arms
  *     [[graft.plans.ZoneMapRule]]'s automatic scan pruning after
  *     the compaction wrote a new version dir.
  *
  * Single-writer contract: this job is the table's one writer during
  * its slot (max_active_runs=1 in the DAG), the same idle-window
  * requirement Compaction documents. Every step is replay-idempotent
  * — a retried slot re-drains nothing (checkpoint), re-compacts onto
  * a fresh version number, and re-stats zero new files.
  *
  * Usage: StorageJob <tableBase> <deleteFeedDir> <pk> [compactAtRows]
  *                   [zonemapCol ...]
  */
object StorageJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: StorageJob <tableBase> <deleteFeedDir> <pk> " +
        "[compactAtRows] [zonemapCol ...]")
    val b = SparkSession.builder().appName("graft-storage-maintenance")
    val spark = (if (sys.props.contains("spark.master")) b
      else b.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .getOrCreate()
    val compactAt = if (args.length > 3) args(3).toLong else 1000000L
    val out = run(spark, args(0), args(1), args(2), compactAt,
      args.drop(4).toSeq)
    println(s"""{"version":${out("version")},""" +
      s""""ledger_rows":${out("ledger_rows")},""" +
      s""""new_files_cataloged":${out("new_files_cataloged")}}""")
    spark.stop()
  }

  /** The current version's zone-map catalog dir. */
  def zonemapDir(base: String): String =
    s"$base/zonemap_v${DeleteLedger.currentVersion(base)}"

  /** Library entry (spec-tested). `feedKeyExpr` maps the feed's
    * columns to the table pk (defaults to the pk name itself).
    * Returns the post-slot state. */
  def run(spark: SparkSession, base: String, feedDir: String, pk: String,
      compactAtRows: Long = 1000000L,
      zonemapCols: Seq[String] = Nil,
      feedKeyExpr: String = ""): Map[String, Long] = {
    // 1. drain the delete feed (no-op when the feed dir is empty)
    // (the feed's row shape is the operator's — `feedKeyExpr` may read
    // any of its columns — so it is read from the footers, once a slot)
    if (Fs.hasCommittedParquet(new java.io.File(feedDir)))
      DeleteLedger.start(spark, feedDir, spark.read.parquet(feedDir).schema, base,
        if (feedKeyExpr.nonEmpty) feedKeyExpr else pk).awaitTermination()

    // 2. measured compaction gate: pending ops (deletes + upserts)
    // are ledger-sized counts
    def dirRows(d: String): Long =
      if (Fs.hasCommittedParquet(new java.io.File(d)))
        spark.read.option("mergeSchema", "true").parquet(d).count()
      else 0L
    val ledgerRows = dirRows(s"$base/deletes") + dirRows(s"$base/upserts")
    if (ledgerRows > compactAtRows) {
      DeleteLedger.compact(spark, base, pk)
      DeleteLedger.vacuum(base, keep = 2)
    }

    // 3. incremental catalog refresh — PER VERSION dir (a shared
    // catalog would keep pre-compaction file paths alive and a pruned
    // read could resurrect deleted rows; versioned catalogs make the
    // stale one unreachable the moment the pointer flips). First slot
    // after a compaction pays a full stat pass of the new version —
    // proportional to the rewrite that just happened anyway; every
    // other slot stats only the appended files.
    val cataloged =
      if (zonemapCols.nonEmpty)
        ZoneMap.update(spark, DeleteLedger.dataDir(base),
          zonemapDir(base), zonemapCols).toLong
      else 0L

    Map(
      "version" -> DeleteLedger.currentVersion(base).toLong,
      "ledger_rows" -> (if (ledgerRows > compactAtRows) 0L else ledgerRows),
      "new_files_cataloged" -> cataloged)
  }
}
