package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.{MergeableStore, QuantileSketch}
import graft.ops.QuantileSketch.QSketch

/** Per-GROUP incrementally-maintained quantile store — the grouped
  * twin of [[QuantileMaintenance]] and the serving loop behind the
  * 100 TB "p95 tokens per source, always fresh" monitoring query
  * (`q_group_quantiles` computes it from scratch; this store keeps it
  * maintained so serving never rescans history).
  *
  * Same algebra as the global store: each group's sketch is an exact
  * function of that group's multiset and merge is bit-exact, so
  * per-batch per-group sketches fold into the stored ones and the
  * streamed store equals the one-shot batch build over the union
  * corpus bit-for-bit — INCLUDING groups that first appear mid-stream
  * (an absent stored group merges from empty). Spec-pinned, with
  * epoch replay.
  *
  * Scale shape per batch: the batch reduces DISTRIBUTED to ≤k pairs
  * per group through [[QuantileSketch.QuantileSketchAgg]]'s
  * partial-aggregated buffers (one exchange of group × k rows), and
  * the fold is distributed too — one exchange on the group key, each
  * group rebuilt and merged in ≤2(k+1)-row bounded memory — so no
  * group domain, registry-sized (sources, langs, shards) or unbounded
  * (per-user, per-document), turns maintenance into a driver collect.
  */
object GroupQuantileMaintenance {

  /** Sentinel h for each group's meta row (real priorities ≥ 0). */
  val MetaH: Long = QuantileMaintenance.MetaH

  /** Store-level marker row's group key: keeps the stamp addressable
    * even for a ZERO-group store (an empty parquet write commits no
    * data files and could never be read back). Newline-prefixed — no
    * single-line registry key can collide with it. */
  private val StampG = "\n__stamp"

  /** Per-group sketches in store rows, stamped. */
  private def storeRows(spark: SparkSession, sks: Map[String, QSketch],
      stamp: String): DataFrame = {
    import spark.implicits._
    val rows = (StampG, MetaH, 0L, 0L) +: sks.toSeq.flatMap { case (g, sk) =>
      (g, MetaH, sk.level.toLong, sk.total) +:
        sk.canonical.map { case (h, v) => (g, h, v, 0L) }
    }
    rows.toDF("g", "h", "v", "total")
      .withColumn("last_batch", lit(stamp)).coalesce(1)
  }

  /** Read the store back: per-group sketches + the idempotency stamp. */
  def readSketches(spark: SparkSession, storeDir: String,
      k: Int = QuantileSketch.DefaultK): (Map[String, QSketch], String) = {
    val rows = MergeableStore.read(spark, storeDir)
      .select("g", "h", "v", "total", "last_batch").collect()
    val stamp = rows.head.getString(4)
    val byG = rows.filterNot(_.getString(0) == StampG)
      .groupBy(_.getString(0)).map { case (g, rs) =>
        val meta = rs.find(_.getLong(1) == MetaH)
          .getOrElse(sys.error(s"group $g has no meta row"))
        val items = rs.filter(_.getLong(1) != MetaH)
          .map(r => (r.getLong(1), r.getLong(2))).toVector
        g -> QSketch(k, meta.getLong(2).toInt, meta.getLong(3), items)
      }
    (byG, stamp)
  }

  /** Distributed batch → per-group sketches: ONE typed aggregation
    * whose partial buffers carry ≤k pairs per group, then a
    * groups-bounded collect. `rows` must be (g string, h long,
    * v long). */
  def sketchesOf(rows: DataFrame,
      k: Int = QuantileSketch.DefaultK): Map[String, QSketch] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val agg = new QuantileSketch.QuantileSketchAgg(k)
    rows.select(col("g").cast("string"), col("h").cast("long"),
        col("v").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(agg.toColumn.name("sk"))
      .collect().toMap
  }

  /** Initial store build (empty input yields an empty store that
    * [[mergeDelta]] bootstraps group-by-group). */
  def build(rows: DataFrame, storeDir: String,
      k: Int = QuantileSketch.DefaultK, stamp: String = "__init"): Unit =
    MergeableStore.publish(storeDir,
      storeRows(rows.sparkSession, sketchesOf(rows, k), stamp))

  /** The fold as a frame of store rows (g, h, v, total): stored rows
    * ⊎ the delta's distributed per-group sketch rows, one groupByKey
    * on g, per-group imperative rebuild + QSketch.merge.
    * private[graft] so the spec can plan-assert the exchange +
    * mapGroups shape. */
  private[graft] def mergedRowsDistributed(spark: SparkSession,
      storeDir: String, delta: DataFrame, k: Int): DataFrame =
    foldDistributed(spark, MergeableStore.read(spark, storeDir), delta, k)

  private def foldDistributed(spark: SparkSession, store: DataFrame,
      delta: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val stored = store.filter(col("g") =!= lit(StampG))
      .select(col("g"), col("h"), col("v"), col("total"),
        lit(0).as("side"))
    val agg = new QuantileSketch.QuantileSketchAgg(k)
    val fresh = delta.select(col("g").cast("string"), col("h").cast("long"),
        col("v").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(agg.toColumn.name("sk"))
      .flatMap { case (g, sk) =>
        (g, MetaH, sk.level.toLong, sk.total, 1) +:
          sk.canonical.map { case (h, v) => (g, h, v, 0L, 1) }
      }
      .toDF("g", "h", "v", "total", "side")
    stored.union(fresh)
      .as[(String, Long, Long, Long, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val rows = it.toVector
        def rebuild(side: Int): QSketch = {
          val rs = rows.filter(_._5 == side)
          if (rs.isEmpty) QSketch.empty(k)
          else {
            val meta = rs.find(_._2 == MetaH).getOrElse(
              sys.error(s"group $g side $side has no meta row"))
            QSketch(k, meta._3.toInt, meta._4,
              rs.filter(_._2 != MetaH).map(r => (r._2, r._3)))
          }
        }
        val merged = rebuild(0).merge(rebuild(1))
        ((g, MetaH, merged.level.toLong, merged.total) +:
          merged.canonical.map { case (h, v) => (g, h, v, 0L) }).iterator
      }
      .toDF("g", "h", "v", "total")
  }

  /** Fold one batch of (g, h, v) rows into the store (the zero-group
    * store before the first publish) — idempotent per batchId; a group
    * unseen so far merges from the empty sketch. The stamp check is
    * one filtered head — no group-domain-sized collect. */
  def mergeDelta(spark: SparkSession, storeDir: String, delta: DataFrame,
      batchId: String, k: Int = QuantileSketch.DefaultK): Unit = {
    require(batchId.nonEmpty && batchId != "__init", s"bad batchId $batchId")
    MergeableStore.merge(spark, storeDir,
        storeRows(spark, Map.empty, "__init")) { store =>
      val stamp = store.filter(col("g") === lit(StampG))
        .select("last_batch").head().getString(0)
      if (stamp == batchId) None
      else {
        import spark.implicits._
        val stampRow = Seq((StampG, MetaH, 0L, 0L))
          .toDF("g", "h", "v", "total")
        Some(foldDistributed(spark, store, delta, k)
          .union(stampRow)
          .withColumn("last_batch", lit(batchId)))
      }
    }
  }

  /** Serve per-group quantiles from the maintained store, shaped like
    * `q_group_quantiles`' from-scratch output: (source, lstar, n, m,
    * p50_v, p95_v). Groups with an empty sketch are omitted (no order
    * statistics to read). */
  def quantilesFrame(spark: SparkSession, storeDir: String,
      k: Int = QuantileSketch.DefaultK): DataFrame = {
    import spark.implicits._
    val (sks, _) = readSketches(spark, storeDir, k)
    sks.toSeq.sortBy(_._1).flatMap { case (g, sk) =>
      for (p50 <- sk.quantile(5000L); p95 <- sk.quantile(9500L))
        yield (g, sk.level.toLong, sk.total, sk.items.size.toLong, p50, p95)
    }.toDF("source", "lstar", "n", "m", "p50_v", "p95_v")
  }

  /** Per-group EQUI-DEPTH boundaries served from the maintained
    * store — the grouped face of
    * [[graft.ops.Histogram.sketchBoundaries]], computed as one
    * DataFrame plan over the store's own rows (every exchange is on
    * the group key over ≤groups×k-row frames; no rescan of history).
    * Same boundary rule per group: bucket b's upper bound is the
    * sketch value at position max(1, b·m div buckets) in (v, h)
    * order; lo = previous bucket's ub (null for the first). */
  def boundariesFrame(spark: SparkSession, storeDir: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets $buckets")
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val store = MergeableStore.read(spark, storeDir)
      .filter(col("g") =!= StampG)
    val meta = store.filter(col("h") === MetaH)
      .select(col("g"), col("v").as("lstar"), col("total").as("n"))
    val items = store.filter(col("h") =!= MetaH)
      .select(col("g"), col("h"), col("v"))
    val m = items.groupBy("g").agg(count(lit(1)).as("m"))
    val ord = items.withColumn("pos", row_number().over(
      Window.partitionBy(col("g")).orderBy(col("v"), col("h"))).cast("long"))
    (1 to buckets).map(_.toLong).toDF("bucket")
      .crossJoin(broadcast(m))
      .withColumn("pos",
        greatest(lit(1L), expr(s"bucket * m div $buckets")))
      .join(ord.select(col("g"), col("pos"), col("v").as("ub")),
        Seq("g", "pos"))
      .withColumn("lo", lag("ub", 1).over(
        Window.partitionBy(col("g")).orderBy(col("bucket"))))
      .join(broadcast(meta), "g")
      .select(col("g").as("source"), col("bucket"), col("lo"), col("ub"),
        col("lstar"), col("n"), col("m"))
  }

  /** Maintain `storeDir` from the parquet stream at `sourceDir`;
    * `gExpr`/`vExpr`/`keyExpr` are SQL expressions over the source
    * columns producing the group, sketched value, and unique hash
    * key. */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
      storeDir: String,
      gExpr: String, vExpr: String, keyExpr: String,
      k: Int = QuantileSketch.DefaultK): StreamingQuery =
    MergeableStore.stream(spark, sourceDir, schema, s"$storeDir-__checkpoint") {
      (batch, id) =>
        val rows = batch.select(
          expr(gExpr).cast("string").as("g"),
          QuantileSketch.hash60(expr(keyExpr).cast("string")).as("h"),
          expr(vExpr).cast("long").as("v"))
        mergeDelta(batch.sparkSession, storeDir, rows, s"b$id", k)
    }
}
