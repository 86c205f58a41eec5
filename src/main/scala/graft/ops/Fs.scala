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
    *   - every reader goes through this helper (a mergeable store
    *     through [[MergeableStore.read]], which resolves the pointer
    *     and lands here), which merges the schemas of ALL files — a
    *     plain read samples one footer and would silently DROP a
    *     column present only in the other era's files (the
    *     VectorIngest mixed-era ledger bug, round 8: the replay guard
    *     read zero admitted docs and re-admitted duplicates);
    *   - a column missing in an old file reads as NULL there; each
    *     store declares its null semantics at the call site
    *     (typically coalesce(col, bootstrap-default)).
    *
    * The merge is a footer-only operation (one small read per file —
    * store file counts are bounded by construction), not a data scan. */
  def readStore(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** [[readStore]] over chosen partition dirs below `basePath` (their
    * hive partition columns still resolve). */
  def readStore(spark: SparkSession, basePath: String,
      dirs: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").option("basePath", basePath)
      .parquet(dirs: _*)

  private val artifactMemo = BuildOnce.memo[(Int, String), DataFrame]()

  /** Memoized resolved relation for a WRITE-ONCE artifact directory
    * (the star warehouse, the multi-file scan replica): every
    * `spark.read.parquet(dir)` runs a footer/schema-inference job and
    * rebuilds the FileIndex — plan-metadata work a bench/serving
    * process repays per query × run (measured: q_weather_star_warehouse
    * paid five ~30 ms resolution jobs per run, one per star relation).
    * This is the `Tables`/`ZoneMap.readFilesMemo` read shape for
    * artifact dirs: the memo holds ONLY the resolved plan — every
    * execution still scans the parquet data. Callers must pass dirs
    * that are IMMUTABLE once built (the BuildOnce artifact contract:
    * rebuilt artifacts land in fresh temp dirs, so the path key
    * self-invalidates); appendable stores keep going through
    * [[readStore]], which must see new partitions. */
  def resolvedParquet(spark: SparkSession, dir: String): DataFrame =
    BuildOnce.cached(artifactMemo, (System.identityHashCode(spark), dir))(
      spark.read.parquet(dir))

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
