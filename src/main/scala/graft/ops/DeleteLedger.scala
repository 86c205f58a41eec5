package graft.ops

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Merge-on-read deletes: a key-addressed delete LEDGER beside the
  * data instead of rewriting data files per delete — the lakehouse
  * deletion-vector idea (Delta DVs, Iceberg delete files) expressed as
  * an explicit, inspectable operator. At 100 TB a compliance delete of
  * 0.1% of rows must not cost a 100 TB rewrite; here it costs one
  * ledger append, and readers reconcile with ONE anti-join until a
  * background [[compact]] folds the ledger into the next data version.
  *
  * Layout under `base/`:
  *   - `data_v{N}/`  immutable data versions (parquet)
  *   - `_MANIFEST`   the [[MergeableStore]] pointer to the current N —
  *                   the manifest-last commit (the O-24 pattern): a
  *                   data rewrite is invisible until this file flips
  *   - `LAYOUT`      optional declared clustering ([[Layout.Spec]]);
  *                   every rewrite (create, compact) reproduces it,
  *                   so zone-map pruning survives maintenance
  *   - `deletes/`    the delete ledger, hive-partitioned by `batch_id`
  *   - `upserts/`    the upsert ledger (full-schema rows + `__seq`),
  *                   hive-partitioned by `batch_id`; see [[upsert]]
  *                   for the window semantics (deletes win; highest
  *                   seq wins among upserts)
  *
  * Correctness contracts:
  *   - DELETE idempotency: each batch writes via dynamic-partition
  *     overwrite of its own `batch_id=` partition, so a retried batch
  *     replaces itself instead of duplicating (the [[JoinView]]
  *     recipe).
  *   - COMPACTION crash windows: compact writes `data_v{N+1}`, flips
  *     the pointer, then clears the ledger — in that order. A crash
  *     before the flip leaves the old version + full ledger (nothing
  *     lost; the orphan dir is replaced by the retry); a crash after
  *     the flip but before the clear leaves the new data AND the
  *     stale ledger, and re-applying a delete of
  *     keys that no longer exist is a no-op anti-join (spec-proven).
  *     The unsafe order (clear first) would lose deletes — documented
  *     so nobody "optimizes" the sequence.
  *   - single concurrent WRITER (deleter/compactor), many readers —
  *     the same contract as the engine's other self-managed stores.
  *
  * Scale posture: the reconcile anti-join broadcasts the ledger while
  * a MEASURED count stays under [[BroadcastDeleteRows]] (delete sets
  * are usually orders of magnitude smaller than the table) and
  * degrades to a shuffle anti-join beyond it — the [[TableStats]]
  * statsJoin posture, never a frozen hint. Both regimes return the
  * same rows by construction (spec-pinned). Compaction itself is one
  * read-reconcile-write pass, amortized across every read that
  * follows it.
  */
object DeleteLedger {

  /** Ledger sizes up to this broadcast into the reconcile anti-join;
    * beyond it the plan degrades to a shuffle anti-join. ~4M keys of
    * a few dozen bytes ≈ low hundreds of MB — the upper edge of a
    * comfortable broadcast. */
  val BroadcastDeleteRows: Long = 4L * 1024 * 1024

  /** Canonical ledger key column. Every delete batch writes its key
    * under this ONE name whatever the caller's frame called it —
    * batch [[delete]] with a `doc_id` column and the streaming
    * [[start]] feed must land in the same schema, or a later
    * non-merged parquet read would pick one era's column and silently
    * null the other era's keys out of the reconcile anti-join. */
  private val LedgerKeyCol = "pk"

  private def deletesDir(base: String) = s"$base/deletes"
  private def upsertsDir(base: String) = s"$base/upserts"

  /** Current data version, or -1 before [[create]] committed. */
  def currentVersion(base: String): Int = MergeableStore.version(base).toInt

  def dataDir(base: String): String = MergeableStore.liveDir(base)

  // -----------------------------------------------------------------
  // Declared layout: a TABLE PROPERTY (`LAYOUT` file beside the
  // pointer), not a call-site argument. The round-9 failure mode this
  // retires: compact wrote each new version as a plain parquet dump, so the
  // first maintenance cycle silently destroyed the range/Z-order
  // clustering the zone map prunes on — every post-compaction file
  // spanned the whole key domain and file skipping dropped to ~zero
  // with no error anywhere. With the layout declared ON THE TABLE,
  // every rewrite path (create, compact, any future re-layout job)
  // reproduces the clustering; no maintenance caller can forget it.
  // -----------------------------------------------------------------

  private def layoutFile(base: String) = Paths.get(base, "LAYOUT")

  /** Declare (or replace) the table's clustering; the NEXT rewrite
    * applies it. Same atomic tmp+rename as the version pointer. */
  def setLayout(base: String, spec: Layout.Spec): Unit = {
    val tmp = Paths.get(base, ".LAYOUT.tmp")
    Files.write(tmp, spec.serialized.getBytes("UTF-8"))
    Files.move(tmp, layoutFile(base), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** The declared clustering, if any. Parse failures are LOUD — a
    * corrupt property must never demote a clustered table to plain
    * rewrites silently. */
  def declaredLayout(base: String): Option[Layout.Spec] = {
    val p = layoutFile(base)
    if (!Files.exists(p)) None
    else Some(Layout.parseSpec(new String(Files.readAllBytes(p), "UTF-8")))
  }

  /** Bootstrap the table: write `df` as version 0, commit the pointer
    * last. A declared `layout` clusters v0 AND is persisted as the
    * table property every later [[compact]] preserves. */
  def create(spark: SparkSession, base: String, df: DataFrame,
      layout: Option[Layout.Spec] = None): Unit = {
    new File(base).mkdirs()
    MergeableStore.commitNext(base, df.schema) { dir =>
      layout match {
        case Some(spec) =>
          Layout.write(df, dir, spec)
          setLayout(base, spec)
        case None => df.write.parquet(dir)
      }
    }
    ()
  }

  /** Append one delete batch: `keys` is a single-column frame of the
    * table's primary key. Dynamic-partition overwrite of this batch's
    * own partition — a retry replaces itself. Deleting a key the data
    * never held (or one already deleted) is harmlessly recorded; the
    * anti-join makes it a no-op. */
  def delete(spark: SparkSession, base: String, keys: DataFrame,
      batchId: String): Unit = {
    require(batchId.nonEmpty, "empty batchId")
    require(keys.columns.length == 1,
      s"keys must be a single pk column, got ${keys.columns.mkString(",")}")
    keys.toDF(LedgerKeyCol).withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(deletesDir(base))
  }

  /** Distinct deleted keys (empty single-column frame before any
    * delete), named `pk`. */
  private def deletedKeys(spark: SparkSession, base: String,
      pk: String): DataFrame = {
    val dir = new File(deletesDir(base))
    if (!Fs.hasCommittedParquet(dir))
      spark.range(0).select(col("id").as(pk)).filter(lit(false))
    else {
      // mergeSchema: see every partition's columns even if a pre-
      // normalization ledger mixed key names; one key column is the
      // contract — more than one means two eras' partitions each
      // carry half the deletes under different names, and silently
      // picking one would drop the other half from the reconcile
      val raw = spark.read.option("mergeSchema", "true")
        .parquet(deletesDir(base))
      val keyCols = raw.columns.filterNot(_ == "batch_id")
      require(keyCols.length == 1,
        s"delete ledger at ${deletesDir(base)} has mixed key columns " +
          s"${keyCols.mkString(",")} — partitions written under " +
          "different schemas; re-write the ledger with one key name")
      raw.select(col(keyCols.head).as(pk)).distinct()
    }
  }

  // -----------------------------------------------------------------
  // Merge-on-read UPSERTS — the other half of the mutation story
  // (Hudi MOR / Iceberg equality-delete+append, as an explicit
  // operator): an update or insert costs one batch append beside the
  // data, never a data-file rewrite; readers reconcile, [[compact]]
  // folds. WINDOW SEMANTICS (documented, spec-pinned):
  //   - among upserts to one key, the highest `seq` wins (ties break
  //     on batch_id — deterministic whatever the read order);
  //   - a DELETE in the same window beats every upsert to its key:
  //     the compliance-first rule (a GDPR erase must not lose to a
  //     late-arriving CDC update; if the key legitimately returns, it
  //     returns as an upsert in a LATER window, after a compact).
  // Idempotency matches delete(): each batch dynamic-partition
  // overwrites its own batch_id partition, so a retry replaces
  // itself; replaying a stale upsert over already-compacted data
  // rewrites the same rows (spec-proven no-op).
  // -----------------------------------------------------------------

  /** Append one upsert batch: `rows` must carry the TABLE's schema
    * (same columns; order normalized here). `seq` orders upsert
    * batches within the window — the streaming twin passes its
    * micro-batch id, batch callers a clock they control. */
  def upsert(spark: SparkSession, base: String, rows: DataFrame,
      pk: String, batchId: String, seq: Long): Unit = {
    require(batchId.nonEmpty, "empty batchId")
    val dataCols = MergeableStore.read(spark, base).columns.toSeq
    require(rows.columns.toSet == dataCols.toSet,
      s"upsert schema ${rows.columns.sorted.mkString(",")} != table " +
        s"schema ${dataCols.sorted.mkString(",")}")
    rows.select(dataCols.map(col): _*)
      .withColumn("__seq", lit(seq))
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(upsertsDir(base))
  }

  /** Winning upsert row per key (empty None when no upserts): the
    * max-(seq, batch_id) row, computed over the batch-sized upsert
    * frame — one window exchange on the delta, never on the table. */
  private def upsertWinners(spark: SparkSession, base: String,
      pk: String): Option[DataFrame] = {
    if (!Fs.hasCommittedParquet(new java.io.File(upsertsDir(base)))) None
    else {
      val raw = spark.read.option("mergeSchema", "true")
        .parquet(upsertsDir(base))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(pk))
        .orderBy(col("__seq").desc, col("batch_id").desc)
      Some(raw.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "__seq", "batch_id"))
    }
  }

  /** The live table: current data version, minus every key the window
    * touched (deletes ∪ upserts), plus the winning upsert rows that
    * are not deleted. Two delta-sized anti-joins and a union;
    * broadcast while the measured key count allows. `maxBroadcast`
    * exists so the spec can force the shuffle regime and pin both
    * plans equal — production callers take the default. */
  def read(spark: SparkSession, base: String, pk: String,
      maxBroadcast: Long = BroadcastDeleteRows): DataFrame = {
    // the current version, read with the schema its commit recorded
    val data = MergeableStore.read(spark, base)
    val dels = deletedKeys(spark, base, pk)
    val winners = upsertWinners(spark, base, pk)
    def anti(left: DataFrame, keys: DataFrame): DataFrame = {
      val n = keys.count() // delta-sized count — the measured gate
      val right = if (n <= maxBroadcast) broadcast(keys) else keys
      left.join(right, Seq(pk), "left_anti")
    }
    (winners, dels.isEmpty) match {
      case (None, true) => data
      case (None, false) => anti(data, dels)
      case (Some(ws), delsEmpty) =>
        val touched =
          if (delsEmpty) ws.select(pk)
          else ws.select(pk).union(dels).distinct()
        val liveUpserts = if (delsEmpty) ws else anti(ws, dels)
        anti(data, touched).unionByName(liveUpserts)
    }
  }

  /** Fold the ledger into a new data version. Order is load-bearing —
    * see the object doc's crash analysis. Returns the new version.
    *
    * LAYOUT-PRESERVING: the rewrite routes through the table's
    * declared [[Layout.Spec]] (or an explicit `layout` override), so
    * the clustering that makes the table's zone map prune survives
    * every compaction — a plain dump here would quietly reset file
    * skipping to zero at the first maintenance cycle. (The collapse
    * is regime-dependent — a BROADCAST reconcile happens to preserve
    * per-scan-partition locality, but the shuffle regime any 100 TB
    * ledger lands in hash-scatters every file across the whole
    * domain — so the declared layout is what makes pruning survival
    * a guarantee instead of a broadcast-gate accident.) The extra
    * cost over a plain write is one range shuffle of exactly the
    * rows being rewritten anyway, amortized over every read after.
    * `maxBroadcast` mirrors [[read]]'s knob so specs can pin BOTH
    * reconcile regimes; production callers take the default. */
  def compact(spark: SparkSession, base: String, pk: String,
      layout: Option[Layout.Spec] = None,
      maxBroadcast: Long = BroadcastDeleteRows): Int = {
    val live = read(spark, base, pk, maxBroadcast)
    val next = MergeableStore.commitNext(base, live.schema) { dir =>
      layout.orElse(declaredLayout(base)) match {
        case Some(spec) => Layout.write(live, dir, spec)
        case None => live.write.parquet(dir)
      }
    }
    // clear order is LOAD-BEARING: upserts BEFORE deletes. A crash
    // leaving both ledgers replays consistently (the delete re-beats
    // the upsert, same winners as the fold); a crash leaving deletes
    // only re-deletes already-gone keys (no-op anti-join). The
    // REVERSE order has a window holding upserts without the deletes
    // that beat them — a replayed upsert would RESURRECT erased keys
    // (spec-pinned: the crash-schedule test replays each window).
    Fs.deleteRecursively(new File(upsertsDir(base)))
    Fs.deleteRecursively(new File(deletesDir(base)))
    next.toInt
  }

  // -----------------------------------------------------------------
  // Time travel: data versions are immutable and compact never touches
  // old ones, so every compaction boundary is a readable snapshot for
  // free — the lakehouse time-travel surface. Granularity is honest:
  // a version is the table AS OF ITS COMPACTION (the ledger is folded
  // in and cleared there); deletes ledgered since the current version
  // are visible only through [[read]], not as a version of their own.
  // -----------------------------------------------------------------

  /** All committed data versions, ascending. */
  def versions(base: String): Seq[Int] =
    Option(new File(base).listFiles()).getOrElse(Array.empty)
      .flatMap { f =>
        val n = f.getName
        if (n.startsWith("data_v") && Fs.hasCommittedParquet(f))
          n.stripPrefix("data_v").toIntOption
        else None
      }.sorted.toSeq.filter(_ <= currentVersion(base))

  /** The table exactly as version `v` committed it (no ledger applied
    * — v's compaction already folded every delete it knew about). */
  def readVersion(spark: SparkSession, base: String, v: Int): DataFrame = {
    require(versions(base).contains(v),
      s"version $v not available (have ${versions(base).mkString(",")})")
    spark.read.parquet(s"$base/data_v$v")
  }

  /** Retention: drop all but the newest `keep` versions (never the
    * current one). Time travel reaches only what vacuum kept — the
    * standard storage/history trade, made explicit. */
  def vacuum(base: String, keep: Int = 1): Seq[Int] = {
    require(keep >= 1, "must keep at least the current version")
    val dropped = versions(base).dropRight(keep)
    dropped.foreach(v => Fs.deleteRecursively(new File(s"$base/data_v$v")))
    dropped
  }

  /** Streaming twin: maintain the ledger from a parquet stream of
    * delete-key files (the compliance-delete feed). Exactly-once by
    * composition — foreachBatch delivers at-least-once with a stable
    * batch id, and [[delete]]'s dynamic-partition overwrite makes a
    * replayed id rewrite its own partition instead of duplicating.
    * `keyExpr` is a SQL expression over the feed's columns (`schema`,
    * the feed files' row shape) producing the table's pk. */
  def start(spark: SparkSession, feedDir: String, schema: StructType,
      base: String, keyExpr: String): org.apache.spark.sql.streaming.StreamingQuery =
    MergeableStore.stream(spark, feedDir, schema, s"$base/__delete_checkpoint") {
      (batch, id) => delete(batch.sparkSession, base,
        batch.select(expr(keyExpr).as("pk")), s"s$id")
    }

  /** Streaming twin for the UPSERT feed (the CDC-update side of the
    * mutation story): full-table-schema row batches (`schema`) from
    * `feedDir` fold into the upsert ledger. The micro-batch id serves as BOTH
    * the idempotency key (a replayed id overwrites its own partition)
    * and the window sequence — checkpointed micro-batch ids are
    * monotone, so later feed files win later, which is exactly the
    * latest-wins contract [[upsert]] documents. Exactly-once by the
    * same composition as the delete feed. */
  def startUpserts(spark: SparkSession, feedDir: String, schema: StructType,
      base: String, pk: String): org.apache.spark.sql.streaming.StreamingQuery =
    MergeableStore.stream(spark, feedDir, schema, s"$base/__upsert_checkpoint") {
      (batch, id) => upsert(batch.sparkSession, base, batch, pk, s"u$id", seq = id)
    }
}
