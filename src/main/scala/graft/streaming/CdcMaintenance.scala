package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.MergeableStore

/** Incrementally-maintained CDC state (the streaming twin of
  * [[graft.pipeline.CdcMerge]]): a keyed latest-state table kept
  * up-to-date by folding each changelog micro-batch into a
  * key-bucketed parquet store, so a consumer reads current state
  * without ever replaying the log.
  *
  * Idempotency is MONOTONE, not stamped: every stored row carries the
  * sequence number that produced it, and a merge keeps the HIGHER
  * sequence per key (ties → store wins). A replayed batch re-offers
  * rows whose sequences the store already absorbed — a no-op rewrite
  * of identical rows — and because the guard is the CDC log's own
  * ordering instead of a batch stamp, even OUT-OF-ORDER batch replays
  * (or a replay over partially-applied buckets) converge — the
  * ⊔-idempotent store class of [[HllMaintenance]].
  *
  * Deletes are TOMBSTONES: the key stays in the store with op='D' and
  * its delete sequence, so a replayed pre-delete batch cannot
  * resurrect it (physical deletion would lose the ordering evidence).
  * [[read]] filters tombstones out; a retention-window GC can drop
  * tombstones older than the maximum possible replay horizon — the
  * standard CDC compaction contract.
  *
  * Scale shape: the store is hive-partitioned by a hash bucket of the
  * key. Per batch: the batch collapses to its per-key latest rows
  * (one max_by shuffle, map-side partial), only the AFFECTED buckets
  * of the store are read back (partition-pruned semi-join), the merge
  * is one equi-join on the key, and a [[MergeableStore]] partition
  * publish rewrites only those buckets. Writes are proportional to
  * touched buckets, never the table.
  */
object CdcMaintenance {

  private val Meta = Seq("op", "seq")

  private def payloadCols(df: DataFrame, keys: Seq[String]): Seq[String] =
    df.columns.toSeq.filterNot(c =>
      keys.contains(c) || Meta.contains(c) || c == "bucket")

  private def bucketOf(keys: Seq[String], buckets: Int): Column =
    pmod(hash(keys.map(col): _*), lit(buckets))

  private val Parts = Seq("bucket")

  /** Initial store load from a base snapshot (payload columns only —
    * rows enter as op='U' at the minimum sequence, so ANY log entry
    * outranks them). */
  def buildStore(base: DataFrame, keys: Seq[String], storeDir: String,
      buckets: Int): Unit =
    MergeableStore.publish(storeDir, base
      .withColumn("op", lit("U"))
      .withColumn("seq", lit(Long.MinValue))
      .withColumn("bucket", bucketOf(keys, buckets)), Parts)

  /** Initial store load from a CHANGELOG prefix, keeping its op/seq
    * (unlike [[buildStore]], whose snapshot rows enter at
    * Long.MinValue). [[mergeBatch]] into a store with no published
    * version does the same after collapsing the batch per key. */
  def seedStore(delta: DataFrame, keys: Seq[String], storeDir: String,
      buckets: Int): Unit =
    MergeableStore.publish(storeDir,
      delta.withColumn("bucket", bucketOf(keys, buckets)), Parts)

  /** Fold one changelog micro-batch (keys ++ payload ++ op/seq) into
    * the store — the empty store before the first publish, so a
    * first batch keeps its own op/seq (the bootstrap maintainers whose
    * sequences carry semantics need, e.g. [[ExperimentMonitor]]'s
    * monotone-OR encoding). Replay-idempotent and out-of-order-safe by
    * the monotone sequence guard; touches only the batch's buckets. */
  def mergeBatch(spark: SparkSession, storeDir: String, batch: DataFrame,
      keys: Seq[String], buckets: Int): Unit = {
    if (batch.isEmpty) return
    val payload = payloadCols(batch, keys)
    // collapse the batch to its per-key latest row first — one
    // map-side-partial max_by, so the raw log never joins the store
    val delta = batch
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct((Meta ++ payload).map(col): _*), col("seq"))
        .as("__last"))
      .select(keys.map(col) ++
        (Meta ++ payload).map(c => col(s"__last.$c").as(c)): _*)
      .withColumn("bucket", bucketOf(keys, buckets))
      .persist()
    try MergeableStore.mergePartitions(spark, storeDir,
        MergeableStore.empty(spark, delta.schema), Parts, delta) { store =>
      // the touched buckets are exactly the batch's
      val base = store
        .select((keys :+ "bucket").map(col) ++
          (Meta ++ payload).map(c => col(c).as(s"__b_$c")): _*)
      // full outer on the key: the log can open brand-new keys. The
      // store wins ties (>=) — a replayed sequence is a no-op.
      val baseWins = col("__b_seq").isNotNull &&
        (col("seq").isNull || col("__b_seq") >= col("seq"))
      Some(base
        .join(delta, keys :+ "bucket", "full_outer")
        .select((keys :+ "bucket").map(col) ++
          (Meta ++ payload).map(c =>
            when(baseWins, col(s"__b_$c")).otherwise(col(c)).as(c)): _*))
    } finally delta.unpersist()
  }

  /** Start maintaining `storeDir` from the parquet changelog stream at
    * `sourceDir` (schema: keys ++ payload ++ op/seq). */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
      storeDir: String,
      keys: Seq[String], buckets: Int): StreamingQuery =
    MergeableStore.stream(spark, sourceDir, schema, s"$storeDir-__checkpoint") {
      (batch, _) => mergeBatch(batch.sparkSession, storeDir, batch, keys, buckets)
    }

  /** Current state: tombstones filtered, internals dropped. */
  def read(spark: SparkSession, storeDir: String,
      keys: Seq[String]): DataFrame = {
    val raw = MergeableStore.read(spark, storeDir)
    raw.filter(col("op") =!= "D")
      .select((keys ++ payloadCols(raw, keys)).map(col): _*)
  }

  /** POINT-IN-TIME state: the table as it stood after applying every
    * change with sequence ≤ `asOf` — the CDC analog of
    * [[graft.pipeline.Scd2.asOf]], served from the compacted store
    * plus the retained changelog instead of a full-history table.
    *
    * Construction: latest-wins replay ([[graft.pipeline.CdcMerge.replay]])
    * over the UNION of
    *   - store rows with seq ≤ asOf — keys whose state was already
    *     current at the target point (at a warm store that is MOST
    *     keys: the base snapshot enters at Long.MinValue, so
    *     untouched keys always serve straight from the store), and
    *   - retained log entries with seq ≤ asOf — the keys the store
    *     has compacted PAST the target point, whose older version
    *     only the log still holds.
    * A key in both at the same seq contributes identical rows (the
    * store row IS that log entry's payload), so the max_by tie is
    * value-free. Tombstones replay like any entry and drop at the end.
    *
    * Contract: exact whenever, for every key whose store row postdates
    * `asOf`, the retained `log` still holds that key's history at and
    * below `asOf` — a GC that trims the changelog bounds how far back
    * [[asOfSeq]] can travel, exactly the checkpoint-plus-tail contract
    * of log-structured tables. To travel BELOW a key's first logged
    * change (i.e. to pre-first-update base state after the store
    * compacted past it), seed the base snapshot into `log` at
    * `Long.MinValue` the way [[graft.pipeline.CdcMerge.apply]] does —
    * the base parquet is the log's horizon floor. `log` stored
    * partitioned on a seq bucket prunes at the scan (the ≤ filter
    * sits under the aggregation). */
  def asOfSeq(spark: SparkSession, storeDir: String, log: DataFrame,
      keys: Seq[String], asOf: Long): DataFrame = {
    val raw = MergeableStore.read(spark, storeDir)
    val payload = payloadCols(raw, keys)
    val cols = (keys ++ Meta ++ payload).map(col)
    val combined = raw.filter(col("seq") <= asOf).select(cols: _*)
      .unionByName(log.filter(col("seq") <= asOf).select(cols: _*))
    graft.pipeline.CdcMerge.replay(combined, keys)
  }

  /** Tombstone GC — the retention compaction the class doc promises:
    * physically drop deleted keys whose delete sequence is ≤ `horizon`
    * (the oldest sequence any future replay or [[asOfSeq]] travel can
    * still reference; the caller owns that promise — it is the same
    * horizon that licenses trimming the changelog itself). Tombstones
    * ABOVE the horizon stay: a replayed pre-delete batch inside the
    * replay window must still find the ordering evidence that stops it
    * resurrecting the key. Rewrites only the buckets that actually
    * hold expired tombstones (partition-pruned, partition publish) —
    * a GC pass over a mostly-live store writes almost nothing. */
  def gcTombstones(spark: SparkSession, storeDir: String,
      horizon: Long): Unit = {
    val raw = MergeableStore.read(spark, storeDir)
    val expired = col("op") === "D" && col("seq") <= horizon
    // bounded driver state: bucket ids, never rows (partition-column
    // type is inference-dependent — int from a hive dir read — so go
    // through the string form)
    val affected = raw.filter(expired).select("bucket").distinct()
      .collect().map(_.get(0).toString.toLong).toSet
    if (affected.isEmpty) return
    // a bucket whose every row expired writes nothing: it leaves the
    // store as a dropped partition
    MergeableStore.publish(storeDir,
      raw.filter(col("bucket").isin(affected.toSeq: _*) && !expired),
      Parts, dropped = affected.map(b => s"bucket=$b"))
  }
}
