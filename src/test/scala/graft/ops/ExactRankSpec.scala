package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ops/ExactRank (distributed global rank selection) must be
  * bit-identical to the single-partition window formulation — the
  * selected row is a data element under a total order, and the
  * parallel shape (range partition + local rank + offset join) must
  * pick exactly the same element. Also pins the plan invariants the
  * operator's correctness rests on: one materialized range exchange
  * shared by both branches (exchange reuse), and no single-partition
  * exchange of the full frame.
  */
class ExactRankSpec extends SparkSpec {
  import spark.implicits._

  /** The single-partition window formulation of the lower median —
    * the reference ExactRank must match bit-for-bit. */
  private def windowedLowerMedian(
      df: org.apache.spark.sql.DataFrame): (Double, Long) = {
    val r = df
      .withColumn("rn", row_number().over(
        Window.orderBy(col("v"), col("id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .filter(col("rn") === shiftright(col("n") - 1, 1) + 1)
      .select("v", "n").head()
    (r.getDouble(0), r.getLong(1))
  }

  test("parallel rank selection == single-partition window, with ties") {
    // deterministic data with heavy ties on v (unique tiebreak id)
    val df = (1 to 10007)
      .map(i => ((i * 2654435761L) % 97 / 10.0, i.toLong))
      .toDF("v", "id")
    val got = ExactRank
      .selectRank(df, Seq(col("v"), col("id")), ExactRank.lowerMedian)
      .select("v", "n_total").head()
    val want = windowedLowerMedian(df)
    assert(java.lang.Double.doubleToLongBits(got.getDouble(0)) ===
      java.lang.Double.doubleToLongBits(want._1), "median value")
    assert(got.getLong(1) === want._2, "total count")
  }

  test("every rank 1..n selects exactly the sorted element") {
    val df = Seq(5.0, 1.0, 3.0, 3.0, 2.0, 9.0, 7.0).zipWithIndex
      .map { case (v, i) => (v, i.toLong) }.toDF("v", "id")
    val sortedVals = Seq(1.0, 2.0, 3.0, 3.0, 5.0, 7.0, 9.0)
    for (k <- 1 to 7) {
      val row = ExactRank
        .selectRank(df, Seq(col("v"), col("id")), _ => lit(k.toLong))
        .select("v").collect()
      assert(row.length === 1, s"rank $k emits one row")
      assert(row.head.getDouble(0) === sortedVals(k - 1), s"rank $k")
    }
  }

  test("selectRanks: all four quartile elements from one pass") {
    val df = (1 to 10007)
      .map(i => ((i * 2654435761L) % 997 / 7.0, i.toLong))
      .toDF("v", "id")
    def k(n: org.apache.spark.sql.Column, q: Int) =
      ((n - 1) * q / 100).cast("long") + 1
    val got = ExactRank.selectRanks(df, Seq(col("v"), col("id")),
      n => Seq(25, 50, 75, 99).map(q => k(n, q)))
      .select("rank", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // reference: plain sorted sequence
    val sortedV = (1 to 10007)
      .map(i => ((i * 2654435761L) % 997 / 7.0, i.toLong)).sorted
    val n = 10007L
    val want = Seq(25, 50, 75, 99)
      .map(q => ((n - 1) * q / 100) + 1)
      .map(r => r -> sortedV((r - 1).toInt)._1).toMap
    assert(got === want)
  }

  test("correct with spark.sql.exchange.reuse=false (no reuse assumption)") {
    // the superseded two-Catalyst-branch formulation was only correct
    // while Catalyst materialized one shared range exchange; the
    // pinned-RDD construction must not care. A DEDICATED session
    // (isolated SQLConf) disables exchange reuse AND AQE's stage
    // cache, then rank selection and rankAll must still be
    // bit-identical to the single-partition window formulation.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.exchange.reuse", "false")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "5")
    import s2.implicits._
    val df = (1 to 10007)
      .map(i => ((i * 2654435761L) % 97 / 10.0, i.toLong))
      .toDF("v", "id")
    assert(!s2.sessionState.conf.exchangeReuseEnabled, "conf applied")
    val got = ExactRank
      .selectRank(df, Seq(col("v"), col("id")), ExactRank.lowerMedian)
      .select("v", "n_total").head()
    val want = windowedLowerMedian(df)
    assert(java.lang.Double.doubleToLongBits(got.getDouble(0)) ===
      java.lang.Double.doubleToLongBits(want._1), "median value")
    assert(got.getLong(1) === want._2, "total count")
    // rankAll transform: every rank matches the window formulation
    val ranks = ExactRank.rankAll(df, Seq(col("v"), col("id")))
      .select("id", "rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantRanks = df
      .withColumn("rn", row_number().over(
        Window.orderBy(col("v"), col("id"))))
      .select("id", "rn").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(ranks.size === 10007)
    assert(ranks === wantRanks)
  }

  test("plan: no single-partition exchange of the full frame") {
    // the pinned-RDD construction's only wide step is the range
    // exchange inside the RDD lineage; the final Catalyst plan over
    // the LogicalRDD must not re-exchange everything to one partition
    val df = (1 to 5000).map(i => (i * 37 % 1009, i.toLong)).toDF("v", "id")
    val sel = ExactRank.selectRank(df, Seq(col("v"), col("id")),
      ExactRank.lowerMedian)
    sel.collect()
    val single = execNodes(sel).collect {
      case s: ShuffleExchangeExec
        if s.outputPartitioning.toString.contains("SinglePartition") => s
    }
    assert(single.isEmpty,
      s"no SinglePartition exchange expected, got ${single.size}")
  }

  test("distributed prefix sum == single-partition window, multi-column") {
    // deterministic data with duplicate sort keys (unique id tiebreak
    // NOT needed: prefixSum folds rows in the partition-local sorted
    // order, and equal-key rows contribute the same running totals to
    // every row after the group — assert on the per-key MAX, which is
    // order-free within a key)
    val df = (1 to 4999)
      .map { i =>
        val k = (i * 2654435761L) % 53
        (k / 10.0, k % 7 + 1, (k % 3).toLong)
      }
      .toDF("v", "a", "b")
    val got = ExactRank
      .prefixSum(df, Seq(col("v")), Seq("ca" -> col("a"), "cb" -> col("b")))
      .groupBy("v").agg(max("ca").as("ca"), max("cb").as("cb"))
      .orderBy("v").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df
      .withColumn("ca", sum(col("a")).over(w))
      .withColumn("cb", sum(col("b")).over(w))
      .groupBy("v").agg(max("ca").as("ca"), max("cb").as("cb"))
      .orderBy("v").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === want.toSeq)
  }

  test("expensiveChild gate: only above-shuffle-boundary work persists") {
    val base = (1 to 100).map(i => (i % 7, i.toLong)).toDF("k", "x")
    // bare projection/filter: recompute is a rescan — never persisted
    assert(!ExactRank.expensiveChild(base.select("k", "x").filter(col("x") > 0)))
    // aggregate TOP: its reduce side re-derives from its own shuffle
    // files, so a second stage repeats only the cheap merge — skip
    // (an unconditional persist here REGRESSED q_roc_auc 0.89→1.09 s)
    assert(!ExactRank.expensiveChild(base.groupBy("k").agg(sum("x").as("s"))))
    // projection above an aggregate: still boundary-covered — skip
    assert(!ExactRank.expensiveChild(
      base.groupBy("k").agg(sum("x").as("s")).select(col("k"), col("s") * 2)))
    // join / explicit repartition above the boundary: the probe /
    // derivation re-runs per stage — persist
    assert(ExactRank.expensiveChild(
      base.join(base.select(col("k").as("k2")), col("k") === col("k2"))))
    assert(ExactRank.expensiveChild(
      base.repartition(4, col("k")).select(col("k"), col("x") * 2)))
    // join BELOW an aggregate: shielded by the agg's shuffle — skip
    assert(!ExactRank.expensiveChild(
      base.join(base.select(col("k").as("k2")), col("k") === col("k2"))
        .groupBy("k").agg(sum("x").as("s"))))
  }

  test("gated child persist: results bit-equal, cache released after") {
    // repartition-with-derivation child => the persist path runs; the
    // output must match the windowed reference exactly and leave no
    // cached blocks behind
    val child = (1 to 4999).map(i => ((i * 48271L) % 97, 1L)).toDF("k0", "one")
      .repartition(7, col("k0"))
      .select((col("k0") * 2 + 1).as("k"), col("one"))
    assert(ExactRank.expensiveChild(child), "gate must fire for this child")
    // suites share one JVM-wide session, and earlier suites may leave
    // owned holds (BuildOnce swap slots, train-once memos) registered:
    // charge only what this call adds
    def entries = org.apache.spark.sql.graft.CacheProbe.entries(spark)
    val entriesBefore = entries
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val got = ExactRank
      .prefixSum(child, Seq(col("k"), col("one")), Seq("cum" -> col("one")))
      .groupBy("k").agg(max("cum").as("cum"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    val w = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = child.withColumn("cum", sum(col("one")).over(w))
      .groupBy("k").agg(max("cum").as("cum"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === want.toSeq)
    // the persist is scoped to job 1: nothing may stay registered
    assert(entries === entriesBefore &&
      spark.sparkContext.getPersistentRDDs.keySet === rddsBefore,
      "ExactRank must unpersist its gated child cache")
  }

  test("prefix sum is shuffle-partition-count invariant (integral sums)") {
    val df = (1 to 3001)
      .map(i => ((i * 48271L) % 101, (i % 5).toLong))
      .toDF("v", "x")
    def run(): Seq[(Long, Long)] = ExactRank
      .prefixSum(df, Seq(col("v")), Seq("cx" -> col("x")))
      .groupBy("v").agg(max("cx").as("cx"))
      .orderBy("v").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    val base = run()
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    try Seq("3", "17").foreach { parts =>
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      assert(run() === base, s"divergence at shuffle.partitions=$parts")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }
}
