package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File-level zone map (min/max skipping catalog) — the MANIFEST
  * counterpart of [[Layout]]'s parquet-footer row-group statistics.
  *
  * Parquet footers already let a scan skip row groups, but the
  * executor must still OPEN every file to learn that: at 100 TB with
  * ~100k files, the driver schedules a task per file and each task
  * pays a footer read before discovering it has nothing to do. A zone
  * map moves the min/max one level up — one catalog row per data file,
  * built in a single scan and persisted beside the data — so a
  * range-filtered read prunes the FILE LIST before any task exists.
  * This is the "small materialized aggregates" idea (Moerkotte,
  * VLDB'98) as productized by every lakehouse table format
  * (Delta/Iceberg manifest stats); here it is an explicit, inspectable
  * operator instead of format magic.
  *
  * Interaction with layout: a zone map over a randomly-written table
  * prunes nothing (every file spans the whole domain); over a
  * [[Layout.writeRangeLayout]] table the per-file ranges are disjoint
  * and a selective range predicate keeps O(selectivity) of the files.
  * Build the layout for the hot filter column, then the zone map makes
  * the pruning decision free.
  *
  * Scale posture:
  *   - the BUILD is one scan with a map-side-combined groupBy on
  *     `_metadata.file_path` — output is one row per file, i.e. the
  *     catalog is ~10^5 rows where the data is 10^11;
  *   - the PRUNE collects only the SURVIVING file paths to the driver
  *     — the same driver-resident class as a lakehouse manifest scan
  *     (Delta's log replay holds exactly this list) and as this
  *     engine's index probe lists ([[VectorIndex]], [[JoinView]]);
  *     the intersect test itself runs distributed on the stats frame;
  *   - correctness never depends on the stats: pruning only DROPS
  *     files whose [min,max] cannot intersect the predicate, and the
  *     residual filter is always re-applied to the surviving rows, so
  *     pruned-read ≡ full-scan-filter by construction (the
  *     `q_zonemap_pruned` oracle gate proves it end-to-end).
  *
  * Null semantics: a range predicate `col BETWEEN lo AND hi` never
  * matches NULL, so a file whose tracked column is entirely null
  * (min/max both null) is correctly skipped; files with SOME nulls
  * keep their non-null min/max and survive on those. IS NULL /
  * IS NOT NULL probes are served by [[graft.plans.ZoneMapRule]] off
  * the `nn_c` vs `n_rows` counts; this explicit API stays
  * range-shaped.
  */
object ZoneMap {

  /** Build the zone map for `dataDir`, tracking `cols`: one output row
    * per data file with `n_rows` plus typed `min_c`/`max_c`/`nn_c` per
    * tracked column. One scan, map-side combined (file count <<
    * row count, so partial aggregation collapses each task's rows to
    * at most its file count before the exchange). */
  def build(spark: SparkSession, dataDir: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "track at least one column")
    val src = spark.read.parquet(dataDir)
      .select(col("_metadata.file_path").as("file") +: cols.map(col): _*)
    val aggs: Seq[Column] = count(lit(1)).as("n_rows") +:
      cols.flatMap { c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
          count(col(c)).as(s"nn_$c"))
      }
    src.groupBy("file").agg(aggs.head, aggs.tail: _*)
  }

  /** Persist the catalog beside the data (one small parquet — the
    * stats frame is file-count-sized, so one file is right). */
  def write(spark: SparkSession, dataDir: String, statsDir: String,
      cols: Seq[String]): Unit =
    build(spark, dataDir, cols).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(statsDir)

  def read(spark: SparkSession, statsDir: String): DataFrame =
    Fs.readStore(spark, statsDir)

  /** Driver-side CATALOG SNAPSHOT — the lakehouse manifest-cache move:
    * the catalog is file-count-sized (~10^5 rows where the data is
    * 10^11), so its collected rows are bounded driver state, and
    * re-reading the store per pruned read paid a mergeSchema footer
    * job + a scan job + a collect per invocation for metadata that
    * only changes when the store's files change. A [[BuildOnce]] value
    * keyed on the store's file listing: any append (ZoneMap.update) or
    * rewrite forces a re-read — data-side freshness stays
    * [[pruneBox]]'s completeness gate, which always runs against the
    * LIVE data listing. */
  private[graft] def catalogSnapshot(spark: SparkSession, statsDir: String)
      : (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row]) =
    BuildOnce.value("zonemap_catalog", spark, Seq(statsDir)) {
      val df = read(spark, statsDir)
      (df.schema, df.collect())
    }

  /** Survival test for one range predicate, with the catalog's
    * NULL-semantics tri-state spelled out (the schema-evolution
    * contract: tracked columns may be WIDENED over a live catalog,
    * so merged-in old rows read null for the new column's stats):
    *   - `nn_c` NULL    -> the file predates tracking of `c`: its
    *                       stats are simply ABSENT, pruning on `c`
    *                       must keep it (dropping it would lose rows);
    *   - `nn_c` = 0     -> the column is genuinely ALL NULL in the
    *                       file: a range predicate can never match,
    *                       skip it (min/max are null, the otherwise
    *                       branch coalesces to false);
    *   - real min/max   -> keep iff [min,max] intersects [lo,hi]. */
  private def keepPred(c: String, lo: Column, hi: Column): Column =
    when(col(s"nn_$c").isNull, lit(true))
      .otherwise(coalesce(col(s"min_$c") <= hi && col(s"max_$c") >= lo,
        lit(false)))

  /** The files whose [min,max] MAY intersect [lo, hi] on `column`.
    * Distributed filter on the stats frame; only survivors reach the
    * driver. private[graft] so the spec can assert the pruning ratio
    * directly. */
  private[graft] def survivingFiles(stats: DataFrame, column: String,
      lo: Column, hi: Column): Seq[String] =
    stats.filter(keepPred(column, lo, hi))
      .select("file").collect().map(_.getString(0)).toSeq

  /** URI-scheme-insensitive path key: `_metadata.file_path` renders as
    * `file:///tmp/x` while Hadoop `Path` renders `file:/tmp/x` — the
    * filesystem path is the stable identity. */
  private def pathKey(s: String): String =
    if (s.contains(":")) java.net.URI.create(s.replace(" ", "%20")).getPath
    else s

  /** Data files currently under `dataDir` (driver-side listing — the
    * same file-count-bounded class as the catalog itself). */
  private def listDataFiles(spark: SparkSession, dataDir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dataDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next().getPath
      if (!f.getName.startsWith("_") && !f.getName.startsWith(".") &&
        f.getName.endsWith(".parquet")) out += f.toString
    }
    out.result()
  }

  /** Incremental catalog maintenance for an APPEND-ONLY table: stat
    * only the files the catalog doesn't know yet and append their
    * rows — the whole-table [[build]] scan is paid once, every later
    * ingest batch costs one scan of ITS OWN files. (Data files are
    * immutable in this engine's stores — rewrites land as new files
    * in new dirs — so known-file stats never go stale; a mutated-file
    * format would need an mtime/etag column beside `file`.)
    * Returns how many new files were cataloged. */
  def update(spark: SparkSession, dataDir: String, statsDir: String,
      cols: Seq[String]): Int = {
    val known: Set[String] =
      if (Fs.hasCommittedParquet(new java.io.File(statsDir)))
        read(spark, statsDir).select("file").collect()
          .map(r => pathKey(r.getString(0))).toSet
      else Set.empty
    val fresh = listDataFiles(spark, dataDir)
      .filterNot(f => known.contains(pathKey(f)))
    if (fresh.nonEmpty) {
      val src = spark.read.parquet(fresh: _*)
        .select(col("_metadata.file_path").as("file") +: cols.map(col): _*)
      val aggs: Seq[Column] = count(lit(1)).as("n_rows") +:
        cols.flatMap { c =>
          Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
            count(col(c)).as(s"nn_$c"))
        }
      src.groupBy("file").agg(aggs.head, aggs.tail: _*)
        .coalesce(1).write.mode(SaveMode.Append).parquet(statsDir)
    }
    fresh.length
  }

  /** Range-pruned read: scan only the surviving files, then re-apply
    * the exact predicate. Result ≡ `spark.read.parquet(dataDir)
    * .filter(column between (lo, hi))` for ANY zone map state — the
    * catalog can only skip non-matching files, never rows. An empty
    * survivor set returns an empty frame with the table's schema
    * (folded from the full read, no scan tasks). */
  def pruneRange(spark: SparkSession, dataDir: String, stats: DataFrame,
      column: String, lo: Column, hi: Column): DataFrame =
    pruneBox(spark, dataDir, stats, Seq((column, lo, hi)))

  /** [[pruneRange]] against a PERSISTED catalog dir, serving the
    * survival test from the driver-side snapshot (no store re-read per
    * invocation — the manifest-cache read shape). */
  def pruneRange(spark: SparkSession, dataDir: String, statsDir: String,
      column: String, lo: Column, hi: Column): DataFrame =
    pruneBox(spark, dataDir, statsDir, Seq((column, lo, hi)))

  /** [[pruneBox]] against a PERSISTED catalog dir via
    * [[catalogSnapshot]]: the survival test runs over a local relation
    * of the snapshot rows — same keepPred, same rows, no per-query
    * catalog scan. The completeness gate below still lists the LIVE
    * data dir, so an un-cataloged append is never pruned. */
  def pruneBox(spark: SparkSession, dataDir: String, statsDir: String,
      preds: Seq[(String, Column, Column)]): DataFrame = {
    val (schema, rows) = catalogSnapshot(spark, statsDir)
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    pruneBox(spark, dataDir, local, preds)
  }

  /** Multi-column BOX pruning: a file survives only when EVERY
    * predicate's [lo, hi] intersects its per-column [min, max] — the
    * read shape a [[Layout.writeZOrderLayout]] table exists for (a
    * range-by-A layout prunes nothing on a B-only filter; Z-order
    * gives both columns partial locality, so the box keeps ~the
    * product of the per-dimension fractions of the files). Same
    * one-sided safety as [[pruneRange]]: survivors are a superset of
    * matching files and the exact conjunction re-applies. */
  def pruneBox(spark: SparkSession, dataDir: String, stats: DataFrame,
      preds: Seq[(String, Column, Column)]): DataFrame = {
    require(preds.nonEmpty, "at least one range predicate")
    val keep = preds.map { case (c, lo, hi) => keepPred(c, lo, hi) }
      .reduce(_ && _)
    // one driver-bounded pass carries BOTH the survival verdict and
    // the catalog's full file set (keepPred already encodes the
    // era-absent / all-null / real-range tri-state, never null)
    val catRows = stats
      .select(col("file"), keep.as("keep"))
      .collect()
    val cataloged = catRows.map(r => pathKey(r.getString(0))).toSet
    val surviving = catRows.filter(_.getBoolean(1)).map(_.getString(0)).toSeq
    // COMPLETENESS gate: a data file the catalog has never seen (an
    // append after the last build/update) carries no stats and must
    // not be pruned — scan it unpruned, so `pruned ≡ plain filter`
    // holds for ANY catalog state, not just a fully-covering one
    // (the explicit-path twin of ZoneMapRule's freshness gate; the
    // listing is the same driver-side file-count-bounded class as
    // the catalog itself)
    val uncataloged = listDataFiles(spark, dataDir)
      .filterNot(f => cataloged.contains(pathKey(f)))
    val files = surviving ++ uncataloged
    val residual = preds.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi
    }.reduce(_ && _)
    if (files.isEmpty) Fs.resolvedParquet(spark, dataDir).filter(lit(false))
    else Fs.resolvedParquet(spark, files: _*).filter(residual)
  }

  /** Surviving-file count for a box (the spec/monitoring probe). */
  private[graft] def survivingBoxFiles(stats: DataFrame,
      preds: Seq[(String, Column, Column)]): Long =
    stats.filter(preds.map { case (c, lo, hi) => keepPred(c, lo, hi) }
      .reduce(_ && _)).count()
}
