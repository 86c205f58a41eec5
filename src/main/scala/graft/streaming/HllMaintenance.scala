package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.MergeableStore

/** Incrementally-maintained per-group HyperLogLog register store —
  * the CARDINALITY twin of [[SketchMaintenance]]'s frequency CMS:
  * together they are the always-fresh sketch services a curation
  * loop probes ("how often has key X appeared" / "how many DISTINCT
  * keys has group G produced") without an exact key-space
  * aggregation per refresh.
  *
  * HLL registers merge by cell-wise MAX — a ⊔-semilattice, which
  * buys a stronger idempotency than the CMS's stamp guard: replaying
  * ANY batch converges algebraically (max(a, d) ⊔ d = max(a, d)),
  * so exactly-once needs no bookkeeping at all. The price of that
  * algebra is the converse capability: max is not invertible, so
  * unlike the linear CMS there is NO retraction — a removed shard
  * means rebuilding from the surviving shards (mergeable-summary
  * property: rebuild = re-merge per-shard register tables, never a
  * rescan of raw history).
  *
  * Register/hash construction is shared with `q_hll_distinct`
  * (64 buckets from the cross-engine 60-bit md5 prefix, rank =
  * 55 − bitlen(h div 64)), so a streamed store is bit-comparable to
  * the batch-built register table and the estimate replays exactly.
  *
  * Scale shape: each micro-batch partial-aggregates its register
  * stream to ≤ groups×64 rows per partition before the exchange; the
  * store is dense (64 rows per observed group, absent bucket =
  * register 0) so probe joins never miss and its size is groups×64
  * independent of data volume.
  */
object HllMaintenance {

  val Buckets = 64L

  /** α·m²·2^55 (α=0.709, m=64) as ONE double literal — the estimate
    * numerator `q_hll_distinct` documents (a 3-factor product would
    * not replay bit-identically across engines). */
  val EstNumerator = 1.0462993238608057e20

  /** Sparse (grp, bucket, reg) register table of one frame —
    * q_hll_distinct's construction. */
  def registers(df: DataFrame, grp: Column, key: Column): DataFrame = {
    val h = conv(md5(key.cast("string")).substr(1, 15), 16, 10).cast("long")
    df.select(grp.cast("string").as("grp"), h.as("h"))
      .select(col("grp"), pmod(col("h"), lit(Buckets)).as("bucket"),
        expr("h div 64").as("rem"))
      .withColumn("rank",
        when(col("rem") === 0L, lit(55L))
          .otherwise(lit(55L) - length(bin(col("rem"))).cast("long")))
      .groupBy("grp", "bucket").agg(max(col("rank")).as("reg"))
  }

  /** Densify: all 64 buckets for every group present in `grps`. */
  private def densify(grps: DataFrame, sparse: DataFrame): DataFrame =
    grps.select(col("grp"),
        explode(sequence(lit(0L), lit(Buckets - 1L))).as("bucket"))
      .join(sparse, Seq("grp", "bucket"), "left")
      .select(col("grp"), col("bucket"),
        coalesce(col("reg"), lit(0L)).as("reg"))

  /** Initial store build (empty `df` yields the zero-group store). */
  def build(df: DataFrame, grp: Column, key: Column, storeDir: String,
      stamp: String = "__init"): Unit = {
    val sparse = registers(df, grp, key)
    MergeableStore.publish(storeDir,
      densify(sparse.select("grp").distinct(), sparse)
        .withColumn("last_batch", lit(stamp)).coalesce(1))
  }

  /** Max-merge one batch's registers into the store (the zero-group
    * store before the first publish). Idempotent by the ⊔-semilattice
    * algebra — a replayed epoch converges without a stamp guard (the
    * stamp column is observability only). A group first seen in this
    * delta is densified to its full 64 rows. */
  def mergeDelta(spark: SparkSession, storeDir: String, delta: DataFrame,
      grp: Column, key: Column, batchId: String): Unit =
    MergeableStore.merge(spark, storeDir, MergeableStore.empty(spark,
        "grp string, bucket bigint, reg bigint, last_batch string")) { store =>
      val base = store.select("grp", "bucket", "reg")
      val d = registers(delta, grp, key)
        .select(col("grp"), col("bucket"), col("reg").as("dreg"))
      val grps = base.select("grp").unionByName(d.select("grp")).distinct()
      Some(grps
        .select(col("grp"),
          explode(sequence(lit(0L), lit(Buckets - 1L))).as("bucket"))
        .join(base, Seq("grp", "bucket"), "left")
        .join(d, Seq("grp", "bucket"), "left")
        .select(col("grp"), col("bucket"),
          greatest(coalesce(col("reg"), lit(0L)),
            coalesce(col("dreg"), lit(0L))).as("reg"),
          lit(batchId).as("last_batch"))
        .coalesce(1))
    }

  /** Maintain `storeDir` from the parquet stream at `sourceDir`. */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
      storeDir: String,
      grpName: String, keyName: String): StreamingQuery =
    MergeableStore.stream(spark, sourceDir, schema, s"$storeDir-__checkpoint") {
      (batch, id) => mergeDelta(batch.sparkSession, storeDir, batch,
        col(grpName), col(keyName), s"b$id")
    }

  def read(spark: SparkSession, storeDir: String): DataFrame =
    MergeableStore.read(spark, storeDir).select("grp", "bucket", "reg", "last_batch")

  /** Per-group distinct estimate from the dense store — the raw-HLL
    * form q_hll_distinct outputs (no small-range correction: that
    * needs a transcendental ln; the registers ARE the sketch). */
  def estimate(spark: SparkSession, storeDir: String): DataFrame =
    MergeableStore.read(spark, storeDir)
      .groupBy("grp")
      .agg(sum(when(col("reg") > 0L, 1L).otherwise(0L)).as("n_hit"),
        max(col("reg")).as("max_reg"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - reg AS INT))"))
          .as("scaled_sum"))
      .withColumn("est_raw",
        lit(EstNumerator) / col("scaled_sum").cast("double"))
}
