package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Small-file compaction — the operational counterpart of the
  * micro-batch sinks (O-24/O-25): a 5-minute batch cadence writes
  * hundreds of small files per day per table, and at 100 TB the
  * resulting file-listing and per-file open costs dominate scan time.
  * Compaction rewrites a directory into ~`targetBytes` files.
  *
  * Scale posture: the rewrite is one job with NO shuffle — `coalesce`
  * only merges input splits (it narrows the partitioning; it never
  * redistributes rows), so compaction cost is a single read+write pass.
  * The swap is two directory renames (each atomic per direntry on
  * HDFS-like filesystems) with an abort-on-concurrent-change guard
  * and crash recovery — see [[compact]]'s concurrency contract.
  * Object stores would gate on a manifest the way
  * [[graft.pipeline.StarSink]] does.
  */
object Compaction {

  /** Number of bytes in `dir` (sum of data file sizes, recursive). */
  def dataBytes(spark: SparkSession, dir: String): Long = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith("_")) total += f.getLen
    }
    total
  }

  /** Data files (non-underscore) under `dir`, recursive. */
  def dataFileCount(spark: SparkSession, dir: String): Int = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    var n = 0
    while (it.hasNext) {
      if (!it.next().getPath.getName.startsWith("_")) n += 1
    }
    n
  }

  /** Data files (non-underscore) under `dir`, recursive, as a set of
    * dir-relative paths (the concurrent-append detector's snapshot). */
  private def dataFileNames(spark: SparkSession, dir: String): Set[String] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    val base = path.toUri.getPath
    var out = Set.empty[String]
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith("_"))
        out += f.getPath.toUri.getPath.stripPrefix(base)
    }
    out
  }

  /** First-level `col=value` partition columns of `dir`, outermost
    * first (empty for a flat layout). */
  def partitionColumns(spark: SparkSession, dir: String): Seq[String] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def cols(p: Path): Seq[String] =
      fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
        .find(_.contains("=")) match {
        case Some(d) => d.split("=")(0) +: cols(new Path(p, d))
        case None => Nil
      }
    cols(path)
  }

  /** Rewrite the parquet directory `dir` into ~ceil(bytes/targetBytes)
    * files (>=1). Returns the resulting file count and the schema the
    * rewrite's read resolved (data columns, then partition columns) —
    * the compacted dir's read schema, so a caller reading it back needs
    * no second footer job.
    *
    * Hive-partitioned layouts are preserved: partition columns are
    * recovered from the directory names and written back with
    * `partitionBy`, so downstream partition pruning survives the
    * rewrite (a flat rewrite would silently demote them to data
    * columns and force full scans).
    *
    * Concurrency contract: the swap is two renames, NOT one atomic
    * op — `dir` does not exist for an instant in between, and a file
    * appended by a concurrent writer after the read pass would be
    * swapped into the backup and deleted. Both hazards are handled:
    * the file set is re-listed just before the swap and the whole
    * compaction ABORTS (cleanly, original intact) if anything
    * changed; run it from the same scheduler slot as the writer (the
    * micro-batch cadence this module exists for makes that natural),
    * and treat the abort as "retry next idle window". A crash between
    * the renames leaves the data in `dir-__precompact`; the next
    * compact() run restores it before proceeding. */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      // fault-injection seam for the concurrency spec: runs after the
      // rewrite, before the changed-directory check
      onBeforeSwap: () => Unit = () => ()): (Int, StructType) = {
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new Path(s"$dir-__precompact")
    // crash recovery: a previous run that died between its two renames
    // left the original stranded in the backup location
    if (fs.exists(backup) && !fs.exists(target)) fs.rename(backup, target)

    val before = dataFileNames(spark, dir)
    val bytes = dataBytes(spark, dir)
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = s"$dir-__compacting"
    val partCols = partitionColumns(spark, dir)
    val df = spark.read.parquet(dir).coalesce(parts)
    val writer = df.write.mode(SaveMode.Overwrite)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(tmp)

    onBeforeSwap()
    // abort (not clobber) if a concurrent writer appended meanwhile:
    // the rewrite no longer reflects the directory's contents
    if (dataFileNames(spark, dir) != before) {
      fs.delete(new Path(tmp), true)
      throw new java.io.IOException(
        s"compaction: $dir changed during rewrite; aborted (original intact)")
    }

    fs.delete(backup, true)
    if (!fs.rename(target, backup))
      throw new java.io.IOException(s"compaction: cannot move $dir aside")
    if (!fs.rename(new Path(tmp), target)) {
      fs.rename(backup, target) // roll back; original data untouched
      throw new java.io.IOException(s"compaction: cannot swap $tmp into place")
    }
    fs.delete(backup, true)
    (dataFileCount(spark, dir), df.schema)
  }
}
