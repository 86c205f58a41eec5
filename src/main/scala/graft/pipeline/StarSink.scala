package graft.pipeline

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.ops.Concurrent

/** Warehouse sink for the star fan-out (SURVEY.md §2 O-24, §3.3).
  *
  * The reference commits the 5 rows of one observation in one MySQL
  * transaction (dags/utils/database.py:25-34). A distributed file sink
  * can't get cross-table atomicity, so this preserves the useful
  * invariant instead (SURVEY.md §3.3 choice (a)+(c)):
  *   - each table write is atomic (Spark's parquet commit protocol);
  *   - dimensions commit BEFORE the fact table, so a fact row can never
  *     reference a dimension row that doesn't exist (the dangling-FK
  *     window is benign: dim rows without a fact row yet); the four
  *     dims are independent of each other and are written together;
  *   - a batch manifest is written last, marking the batch complete —
  *     readers that require full consistency gate on it.
  *
  * Scale posture: the keyed frame is scanned five times as narrow
  * projections (the fact's partition column is projected straight off
  * the keyed frame, never joined back). With deterministic keys the
  * frame is memory/disk-cached; with uuid keys it is STAGED TO
  * DURABLE STORAGE first — a cached partition lost with its executor
  * would be recomputed with fresh uuids, silently breaking key
  * agreement between tables written moments apart, so a cache is not
  * a sufficient barrier for nondeterministic keys.
  *
  * Fact LAYOUT (the [[graft.ops.Layout]] disciplines applied to the
  * warehouse the reference implies at SQL/dbdiagram.txt:59-63):
  * besides the record_date hive partitioning (partition pruning for
  * date/season windows), `clustered = true` (the default) range-
  * clusters each date's files by station_id — a station-filtered scan
  * then skips whole files/row groups from footer min/max alone — and
  * writes a parquet bloom filter on record_id so a point FK probe
  * (fact row lookup from a dim key, the scattered-value pattern
  * min/max can't serve) reads ~1 row group. Costs ONE range shuffle
  * per batch, amortized over every subsequent scan; dims stay
  * shuffle-free. `clustered = false` restores the fully shuffle-free
  * fact write (used by the per-micro-batch streaming sink, where
  * batches are small and latency dominates).
  */
object StarSink {

  /** Write all five tables under `baseDir`; returns per-table row
    * counts (from the materialized frame — no extra scan of the
    * source).
    * @param factFiles target file count for the clustered fact layout
    *                  (0 = Spark's default parallelism); tune so each
    *                  (date, station) run lands in its own file. */
  def write(enriched: DataFrame, baseDir: String,
      deterministicKeys: Boolean = true, clustered: Boolean = true,
      factFiles: Int = 0): Map[String, Long] = {
    val spark = enriched.sparkSession
    val keyed = StarSchema.withKeys(enriched, deterministicKeys)
    val staging = s"$baseDir/_keyed_staging"
    val (cached, cleanup) =
      if (deterministicKeys) {
        val c = keyed.persist(StorageLevel.MEMORY_AND_DISK)
        (c, () => { c.unpersist(); () })
      } else {
        // durable barrier for nondeterministic keys (see class doc)
        keyed.write.mode(SaveMode.Overwrite).parquet(staging)
        (spark.read.schema(keyed.schema).parquet(staging),
          () => deleteRecursively(staging))
      }
    try {
      val star = StarSchema.splitKeyed(cached)
      // the row count and the four dims are independent scans of the
      // cached frame, so they run together (one dispatch gap instead
      // of five; the first scan to reach a partition caches it, the
      // others wait on that block). Dims first, fact LAST:
      // Concurrent.all returns only after every dim write has ended,
      // so a failed dim leaves no fact dir and no manifest
      val dims = Seq("time_dim" -> star.timeDim, "param_dim" -> star.paramDim,
        "temp_dim" -> star.tempDim, "heat_index_dim" -> star.heatIndexDim)
      val n = Concurrent.all((() => cached.count()) +: dims.map { case (name, dim) =>
        () => { dim.write.mode(SaveMode.Overwrite).parquet(s"$baseDir/$name"); 0L }
      }: _*).head
      // the fact's partition column comes straight off the keyed frame
      // (recorded_date_local IS timeDim's record_date by construction)
      // — joining timeDim back would shuffle the full dataset twice
      // just to recover a column its own input already had
      val factWithDate = cached.select(
        (star.fact.columns.map(col) :+
          col("recorded_date_local").as("record_date")): _*)
      // explicit file count: a user-specified repartition count is
      // honored verbatim (AQE only coalesces un-numbered exchanges, so
      // an implicit count would let AQE merge partitions and silently
      // invalidate the per-file bloom sizing below)
      val files = math.max(1,
        if (factFiles > 0) factFiles
        else spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
      val factLaidOut =
        if (!clustered) factWithDate
        else
          // range-cluster (date, station) so files within a date
          // partition are station-disjoint (footer min/max pruning),
          // and sort row groups internally for page-level stats
          factWithDate
            .repartitionByRange(files, col("record_date"), col("station_id"))
            .sortWithinPartitions("record_date", "station_id")
      val factWriter =
        if (clustered) {
          // blooms are sized PER FILE/row group: size for the rows one
          // file holds, not the dataset total — an NDV of n would make
          // every file's optimal bloom exceed parquet's 1 MB cap at
          // scale and saturate (FPP -> 1, pruning gone)
          factLaidOut.write
            // point probes on the scattered surrogate key: bloom, not
            // min/max (see class doc)
            .option("parquet.bloom.filter.enabled#record_id", "true")
            .option("parquet.bloom.filter.expected.ndv#record_id",
              math.max(n / files, 1L).toString)
        } else factLaidOut.write
      factWriter.mode(SaveMode.Overwrite)
        .partitionBy("record_date")
        .parquet(s"$baseDir/fact")

      // manifest last: the batch is complete iff this file exists
      Files.write(Paths.get(s"$baseDir/_BATCH_COMPLETE"),
        s"""{"rows":$n,"tables":5}""".getBytes,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      Map("fact" -> n, "time_dim" -> n, "param_dim" -> n,
        "temp_dim" -> n, "heat_index_dim" -> n)
    } finally cleanup()
  }

  private def deleteRecursively(dir: String): Unit =
    graft.ops.Fs.deleteRecursively(new java.io.File(dir))
}
