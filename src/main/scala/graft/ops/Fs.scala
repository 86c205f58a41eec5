package graft.ops

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared local-FS helpers for the sinks and pipelines that manage
  * their own directories (staged commits, batch-keyed publishes,
  * store bootstraps). One implementation — the sinks previously each
  * carried a private copy of the recursive delete. */
object Fs {

  /** THE store-read convention (schema evolution contract for every
    * self-managed parquet store — the [[MergeableStore]] versions of
    * the CDC, quantile/histogram/CMS/HLL sketch, checksum and roll-up
    * stores and the delete ledger's data, plus the append-only
    * zone-map catalogs and ingest ledgers):
    *
    *   - a mergeable store is a `_MANIFEST` pointer naming immutable
    *     version dirs (`data_v{N}`, or one per live partition), each
    *     written once by the store's SINGLE writer and collected once
    *     the pointer moves past it; the other stores are append-only
    *     dirs of immutable parquet files. SCHEMA EVOLUTION means adding
    *     nullable columns in new files, never renaming/retyping
    *     existing ones;
    *   - a reader declares the store's schema or goes through this
    *     helper, which merges the schemas of ALL files — a plain read
    *     samples one footer and would silently DROP a column present
    *     only in the other era's files (the VectorIngest mixed-era
    *     ledger bug, round 8: the replay guard read zero admitted docs
    *     and re-admitted duplicates). A mergeable store is read by
    *     [[MergeableStore.read]] with the union schema its `_MANIFEST`
    *     records (this helper only for a manifest written without
    *     one); a batch-keyed ledger by [[graft.streaming.BatchLedger]]
    *     with its writer's schema;
    *   - a column missing in an old file reads as NULL there; each
    *     store declares its null semantics at the call site
    *     (typically coalesce(col, bootstrap-default)).
    *
    * The merge is a footer-only operation (one small read per file —
    * store file counts are bounded by construction), not a data scan. */
  def readStore(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** THE source-state signature the [[BuildOnce]] catalog keys on: a
    * file's (path, length, mtime); for a dir, that triple for each
    * committed parquet file below it (the [[hasCommittedParquet]]
    * rule), sorted; Nil for a missing path. A driver-side listing — no
    * Spark job — so any rewrite, append or delete changes it. */
  def signature(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return Nil }
    if (!st.isDirectory)
      return Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toString.stripPrefix(st.getPath.toString)
      if (rel.split('/').forall(n => !n.startsWith("_") && !n.startsWith(".")) &&
        rel.endsWith(".parquet"))
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out.result().sortBy(_._1)
  }

  /** The resolved relation over an IMMUTABLE path set (a write-once
    * artifact dir, a pruned read's surviving files), resolved once per
    * session: `spark.read.parquet` runs a footer/schema-inference job
    * and rebuilds the FileIndex on every call — plan metadata a
    * serving process would repay per query × run. Only the resolved
    * plan is kept; every execution still scans the data. Appendable
    * stores keep going through [[readStore]], which must see new
    * files. */
  def resolvedParquet(spark: SparkSession, paths: String*): DataFrame = {
    // digest key: a pruned read's file list is ~10^5 paths at 100 TB,
    // too large to retain per entry
    val md = java.security.MessageDigest.getInstance("SHA-256")
    paths.foreach(f => md.update((f + "\n").getBytes("UTF-8")))
    BuildOnce.value("resolved", spark, Nil, spark, paths.size,
      md.digest().toSeq)(spark.read.parquet(paths: _*))
  }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Does `dir` hold at least one COMMITTED parquet data file?
    * Skips hidden/metadata entries (`_temporary` staging, `_SUCCESS`,
    * dotfiles), recursing through partition directories.
    *
    * This is the "does the store exist" probe for bootstrap-vs-merge
    * dispatch: bare `dir.exists()` is wrong twice over — a partitioned
    * write of an EMPTY frame commits a directory with no data files,
    * and a crash mid-write leaves `_temporary` debris — and either
    * would wedge a reader (schema inference fails) on every retry if
    * treated as an existing store. */
  def hasCommittedParquet(dir: File): Boolean = {
    val children = Option(dir.listFiles()).getOrElse(Array.empty[File])
    children.exists { f =>
      val n = f.getName
      !n.startsWith("_") && !n.startsWith(".") &&
        (if (f.isDirectory) hasCommittedParquet(f) else n.endsWith(".parquet"))
    }
  }
}
