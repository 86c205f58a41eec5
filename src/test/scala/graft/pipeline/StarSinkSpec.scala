package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class StarSinkSpec extends SparkSpec {
  import spark.implicits._

  private def enriched = {
    val obs = Seq(
      (1L, 2L, 6.26, 61L, 1013L, 10000L, 40L, 3.6, 200.0,
        1700000000L, 1699980000L, 1700014920L, -18000L, 4.0, 8.0, 5.1),
      (2L, 3L, -5.0, 80L, 990L, 8000L, 90L, 8.0, 10.0,
        1720000000L, 1719960000L, 1720010000L, 3600L, -7.0, -3.0, -9.2)
    ).toDF("obs_id", "station_id", "temp", "humidity", "pressure",
      "visibility", "cloudiness", "wind_speed", "wind_direction",
      "timestamp", "sunrise_ts", "sunset_ts", "timezone",
      "temp_min", "temp_max", "feels_like")
    WeatherEtl.enrich(obs)
  }

  test("writes 5 tables + manifest; fact is date-partitioned; FKs join back") {
    val dir = Files.createTempDirectory("star_sink").toString
    val counts = StarSink.write(enriched, dir)
    assert(counts.values.toSet === Set(2L))

    // manifest written last => batch complete
    assert(Files.exists(Paths.get(s"$dir/_BATCH_COMPLETE")))

    // fact is hive-partitioned by record_date (one dir per local date)
    val partDirs = new java.io.File(s"$dir/fact").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("record_date="))
    assert(partDirs.length === 2, partDirs.toSeq)

    // round-trip: every fact row joins to all four dims
    val fact = spark.read.parquet(s"$dir/fact")
    val joined = fact
      .join(spark.read.parquet(s"$dir/time_dim"), "time_id")
      .join(spark.read.parquet(s"$dir/param_dim"), "parameter_id")
      .join(spark.read.parquet(s"$dir/temp_dim"), "temp_id")
      .join(spark.read.parquet(s"$dir/heat_index_dim"), "heat_index_id")
    assert(joined.count() === 2)
    // partition pruning: a record_date filter reads a single partition
    val pruned = fact.filter(col("record_date") === partDirs.head.stripPrefix("record_date="))
    assert(pruned.count() === 1)
  }

  test("uuid keys stay consistent across tables (durable staging barrier)") {
    val dir = Files.createTempDirectory("star_sink_uuid").toString
    StarSink.write(enriched, dir, deterministicKeys = false)

    // fresh uuids per run, but fact and dims must reference the SAME
    // key values: all four FK joins resolve for every fact row (a
    // cache-recompute between table writes would break this)
    val fact = spark.read.parquet(s"$dir/fact")
    val joined = fact
      .join(spark.read.parquet(s"$dir/time_dim"), "time_id")
      .join(spark.read.parquet(s"$dir/param_dim"), "parameter_id")
      .join(spark.read.parquet(s"$dir/temp_dim"), "temp_id")
      .join(spark.read.parquet(s"$dir/heat_index_dim"), "heat_index_id")
    assert(joined.count() === 2)
    // the staging barrier cleans up after itself
    assert(!Files.exists(Paths.get(s"$dir/_keyed_staging")))
  }

  test("the fact write plans with no shuffle (no join back to time_dim)") {
    val keyed = StarSchema.withKeys(enriched)
    val star = StarSchema.splitKeyed(keyed)
    val factWithDate = keyed.select(
      (star.fact.columns.map(col) :+
        col("recorded_date_local").as("record_date")): _*)
    val plan = factWithDate.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("a failed dim write leaves no fact dir and no batch manifest") {
    val dir = Files.createTempDirectory("star_sink_fail").toString
    // the four dims are written together; one of them dies in its tasks
    intercept[Exception] {
      graft.FailingCommitProtocol.failingWritesUnder(spark, s"$dir/param_dim") {
        StarSink.write(enriched, dir)
      }
    }
    assert(!Files.exists(Paths.get(s"$dir/fact")))
    assert(!Files.exists(Paths.get(s"$dir/_BATCH_COMPLETE")))
    // a rerun of the batch completes it
    assert(StarSink.write(enriched, dir).values.toSet === Set(2L))
    assert(Files.exists(Paths.get(s"$dir/_BATCH_COMPLETE")))
  }
}
