package graft.ops

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec, Tables}
import graft.queries.{EventsQueries, StorageQueries, WeatherQueries}
import graft.streaming.{EventsStream, RollupMaintenance}

/** The build-once artifact catalog end to end on a temp copy of the
  * committed sf0.01 dataset: a source rewritten in place is rebuilt
  * from, clearAll reclaims every dir the catalog built, and a served
  * view whose store the catalog deleted fails its freshness gate
  * closed.
  */
class BuildOnceSpec extends SparkSpec {

  private def copyOfSf001(): String = {
    val src = new File("perfbench/data/sf0.01")
    val dst = Files.createTempDirectory("catalog_sf").toFile
    src.listFiles().foreach(f =>
      Files.copy(f.toPath, new File(dst, f.getName).toPath))
    dst.toString
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def exists(d: String): Boolean = new File(d).exists()

  test("a source rewritten in place rebuilds its artifact (q_zorder_box)") {
    val dir = copyOfSf001()
    val q = SparkEntry.queries("q_zorder_box")
    val before = rows(q(spark, dir))
    val art = StorageQueries.zorderFor(spark, dir)
    // rewrite orders.parquet at the same path: every odd-dollar order
    // in the box's customer range is gone
    val orders = Tables(spark, dir, "orders")
    val staged = Files.createTempDirectory("catalog_orders").toString
    orders.filter(!(col("o_custkey").between(100, 199) &&
        floor(col("o_totalprice")).cast("long") % 2 === 1))
      .coalesce(1).write.mode("overwrite").parquet(staged)
    val part = new File(staged).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(dir, "orders.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    // expected: the same aggregate as a plain filter over the new file
    val dollars = floor(col("o_totalprice")).cast("long")
    val expected = rows(Tables(spark, dir, "orders")
      .filter(col("o_custkey").between(100L, 199L) &&
        dollars.between(200000L, 299999L))
      .withColumn("dollars", dollars)
      .withColumn("__h60",
        conv(md5(col("o_orderkey").cast("string")).substr(1, 15), 16, 10)
          .cast("long"))
      .agg(count(lit(1)).as("n_orders"),
        expr("bit_xor(__h60)").as("ids_xor60"),
        min(col("o_custkey")).as("min_cust"),
        max(col("o_custkey")).as("max_cust"),
        min(col("dollars")).as("min_dollars"),
        max(col("dollars")).as("max_dollars")))
    assert(expected != before, "the rewrite must change the answer")
    assert(rows(q(spark, dir)) === expected)
    val rebuilt = StorageQueries.zorderFor(spark, dir)
    assert(rebuilt != art)
    assert(!exists(art), "the stale artifact's dir is deleted")
    assert(exists(rebuilt))
    BuildOnce.clearAll()
    Fs.deleteRecursively(new File(dir))
  }

  test("clearAll deletes every dir the catalog built") {
    val dir = copyOfSf001()
    BuildOnce.clearAll()
    Seq("q_zorder_box", "q_rollup_served", "q_weather_star_warehouse",
      "q_delete_ledger").foreach(q => SparkEntry.queries(q)(spark, dir).collect())
    val built = Seq(StorageQueries.zorderFor(spark, dir),
      EventsQueries.rollupStoreFor(spark, dir),
      WeatherQueries.warehouseFor(spark, dir),
      StorageQueries.deleteTableFor(spark, dir))
    val owned = BuildOnce.ownedDirs
    assert(built.forall(owned.contains), owned)
    assert(owned.forall(exists))
    BuildOnce.clearAll()
    assert(BuildOnce.ownedDirs.isEmpty)
    assert(owned.filter(exists).isEmpty)
    Fs.deleteRecursively(new File(dir))
  }

  test("q_rollup_served rebuilds after clearAll; a deleted store is never served") {
    val dir = copyOfSf001()
    def hourly = EventsStream.hourlyRollup(Tables(spark, dir, "events"))
      .orderBy("hour_start", "event_type")
    BuildOnce.clearAll()
    // no view registered yet: the raw-events answer the oracle checks
    val oracle = rows(hourly)
    val served = SparkEntry.queries("q_rollup_served")
    assert(rows(served(spark, dir)) === oracle)
    val store = EventsQueries.rollupStoreFor(spark, dir)
    BuildOnce.clearAll()
    assert(!exists(store))
    // a registration that outlived its store: the gate must decline it
    graft.plans.MatViewRewriteRule.register(
      EventsStream.hourlyRollup(Tables(spark, dir, "events")), store,
      RollupMaintenance.read(_, store))
    val roots = hourly.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
    assert(roots.nonEmpty && roots.forall(!_.contains(store)), roots)
    assert(rows(hourly) === oracle)
    assert(rows(served(spark, dir)) === oracle)
    val rebuilt = EventsQueries.rollupStoreFor(spark, dir)
    assert(rebuilt != store && exists(rebuilt))
    BuildOnce.clearAll()
    Fs.deleteRecursively(new File(dir))
  }
}
