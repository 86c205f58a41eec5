package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The store schema-evolution contract (Fs.readStore): every
  * self-managed parquet store reads with a schema that covers every
  * era — merged from the footers (Fs.readStore), recorded in the
  * store's `_MANIFEST` (MergeableStore.read) or declared by the writer
  * (BatchLedger.readOtherBatches) — so an added-column era never
  * silently drops the other era's columns —
  * the class of bug the round-8 VectorIngest ledger hit (a plain
  * read sampled one footer, lost the other era's column, and the
  * replay guard re-admitted duplicates). Null semantics are declared
  * per store; the zone-map catalog's tri-state (era-absent vs
  * all-null vs real range) is pinned here end-to-end.
  */
class StoreSchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  test("readStore merges mixed-era partitions; missing columns read as null") {
    val dir = Files.createTempDirectory("store_evo").toString
    // era 1: (grp, n); era 2 adds a nullable column w
    Seq(("a", 1L), ("b", 2L)).toDF("grp", "n")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq(("c", 3L, 30L)).toDF("grp", "n", "w")
      .coalesce(1).write.mode("append").parquet(dir)

    val merged = Fs.readStore(spark, dir)
    assert(merged.columns.toSet === Set("grp", "n", "w"))
    val rows = merged.orderBy("grp").collect()
    assert(rows.map(_.getAs[String]("grp")).toSeq === Seq("a", "b", "c"))
    // era-1 rows read null for the added column; era-2 carries it
    assert(rows.take(2).forall(_.isNullAt(rows.head.fieldIndex("w"))))
    assert(rows.last.getAs[Long]("w") === 30L)
  }

  test("zone-map catalog widened mid-life: era-absent stats never prune; all-null still skips") {
    val base = Files.createTempDirectory("zm_evo").toString
    // era 1: 4 files range-clustered on k, catalog tracks k only
    val old = (0L until 400L).map(i => (i, i % 50, s"p$i")).toDF("k", "g", "payload")
    Layout.writeRangeLayout(old, s"$base/data", 4, "k")
    ZoneMap.write(spark, s"$base/data", s"$base/zm", Seq("k"))

    // era 2: two appended files — one with real g values OUTSIDE the
    // probe band, one with g ALL NULL — cataloged tracking (k, g)
    (400L until 500L).map(i => (i, Some(i % 7), s"q$i")).toDF("k", "g", "payload")
      .coalesce(1).write.mode("append").parquet(s"$base/data")
    (500L until 600L).map(i => (i, None: Option[Long], s"r$i")).toDF("k", "g", "payload")
      .coalesce(1).write.mode("append").parquet(s"$base/data")
    assert(ZoneMap.update(spark, s"$base/data", s"$base/zm", Seq("k", "g")) === 2)

    val stats = ZoneMap.read(spark, s"$base/zm")
    assert(stats.count() === 6)

    // pruning on k (tracked in both eras) is unaffected
    val kPruned = ZoneMap.pruneRange(spark, s"$base/data", stats,
      "k", lit(100L), lit(199L))
    assert(kPruned.collect().map(_.getLong(0)).sorted.toSeq === (100L to 199L))

    // pruning on g: the 4 era-1 files carry NO g stats — they must
    // SURVIVE (treating absent as all-null would silently lose their
    // g in [20,30] rows); the all-null file must still be skipped
    val gPreds = Seq(("g", lit(20L), lit(30L)))
    assert(ZoneMap.survivingBoxFiles(stats, gPreds) === 4L,
      "expected the 4 era-absent files to survive and both era-2 " +
        "files to drop (real g stats outside the band; all-null)")
    val gPruned = ZoneMap.pruneBox(spark, s"$base/data", stats, gPreds)
    val gFull = spark.read.parquet(s"$base/data")
      .filter(col("g") >= 20L && col("g") <= 30L)
    assert(gPruned.collect().toSet === gFull.collect().toSet)
  }

  test("ZoneMapRule honors the widened-catalog tri-state (no rows lost through the rule)") {
    val base = Files.createTempDirectory("zmr_evo").toString
    val old = (0L until 400L).map(i => (i, i % 50, s"p$i")).toDF("k", "g", "payload")
    Layout.writeRangeLayout(old, s"$base/data", 4, "k")
    ZoneMap.write(spark, s"$base/data", s"$base/zm", Seq("k"))
    Thread.sleep(20)
    (400L until 500L).map(i => (i, Some(i % 7), s"q$i")).toDF("k", "g", "payload")
      .coalesce(1).write.mode("append").parquet(s"$base/data")
    Thread.sleep(20)
    assert(ZoneMap.update(spark, s"$base/data", s"$base/zm", Seq("k", "g")) === 1)

    graft.plans.ZoneMapRule.install(spark)
    graft.plans.ZoneMapRule.register(spark, s"$base/data", s"$base/zm",
      Seq("k", "g"))
    try {
      // a g-filter: era-1 files have no g stats and must all be
      // scanned — the rule may prune only the era-2 file (g in [0,6])
      val q = spark.read.parquet(s"$base/data")
        .filter(col("g") >= 20L && col("g") <= 30L)
      val expected = spark.read.parquet(s"$base/data")
        .where(col("g").between(20L, 30L)).count()
      assert(q.count() === expected && expected > 0)
    } finally graft.plans.ZoneMapRule.deregister(s"$base/data")
  }

  test("maintenance stores tolerate a FUTURE-era partition with an extra column") {
    // the forward direction: a newer writer adds a column to the
    // store; today's reader (fixed select list) must keep serving —
    // the store reads with its manifest schema, which leaves the
    // rider column out, and the select never names it
    val src = Files.createTempDirectory("evo_src").toString
    val store = Files.createTempDirectory("evo_store").toString + "/s"
    (0L until 1000L).map(i => (i % 10, i)).toDF("grp", "v")
      .coalesce(1).write.mode("append").parquet(src)
    graft.streaming.SketchMaintenance.build(
      spark.read.parquet(src), col("grp"), store)
    val keys = (0L until 10L).toDF("grp")
    val before = graft.streaming.SketchMaintenance
      .probe(spark, store, keys, col("grp")).orderBy("key").collect()

    // future era: an extra bookkeeping column rides a new partition
    // (b=999 sits outside the dense 4x256 spine, so probes never
    // coordinate-match it — only the SCHEMA is the hazard)
    spark.range(1).select(lit(0).as("i"), lit(999L).as("b"),
      lit(0L).as("c"), lit("future").as("last_batch"),
      lit("tag").as("writer_tag"))
      .coalesce(1).write.mode("append")
      .parquet(MergeableStore.liveDir(store))
    val after = graft.streaming.SketchMaintenance
      .probe(spark, store, keys, col("grp")).orderBy("key").collect()
    assert(after.toSeq === before.toSeq,
      "a future-era store partition broke today's serving path")
  }

  test("manifest-schema and declared-schema ledger reads over mixed eras: the added column reads null") {
    // a partitioned store: p=a published in era 1, p=b after the
    // writer added w; untouched p=a keeps its era-1 files
    val store = Files.createTempDirectory("evo_manifest").toString + "/s"
    MergeableStore.publish(store, Seq(("a", 1L)).toDF("p", "n"), Seq("p"))
    MergeableStore.publish(store, Seq(("b", 2L, 20L)).toDF("p", "n", "w"), Seq("p"))
    val rows = MergeableStore.read(spark, store).select("p", "n", "w")
      .orderBy("p").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("a", "b"))
    assert(rows(0).isNullAt(2) && rows(1).getLong(2) === 20L)

    // a whole store keeps a column an earlier version published, as null
    val whole = Files.createTempDirectory("evo_whole").toString + "/s"
    MergeableStore.publish(whole, Seq((1L, 10L)).toDF("n", "w"))
    MergeableStore.publish(whole, Seq(2L).toDF("n"))
    val w = MergeableStore.read(spark, whole).collect()
    assert(w.length === 1 && w.head.getLong(0) === 2L && w.head.isNullAt(1))

    // a batch-keyed ledger read with its writer's (era-2) schema
    val ledger = Files.createTempDirectory("evo_ledger").toString
    Seq(1L).toDF("h").write.parquet(s"$ledger/batch_id=0")
    Seq((2L, 7L)).toDF("h", "extra").write.parquet(s"$ledger/batch_id=1")
    Seq((3L, 8L)).toDF("h", "extra").write.parquet(s"$ledger/batch_id=2")
    val read = graft.streaming.BatchLedger.readOtherBatches(spark, ledger, 2L,
      Seq((0L, 0L)).toDF("h", "extra").schema).get
    assert(read.columns.toSeq === Seq("h", "extra"))
    val got = read.orderBy("h").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(got(0).isNullAt(1) && got(1).getLong(1) === 7L)
  }
}
