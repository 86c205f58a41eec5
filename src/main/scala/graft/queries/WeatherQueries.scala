package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryModule, Tables}
import graft.enrich.Weather
import graft.pipeline.{Observations, StarSchema, WeatherEtl}

/** The reference ETL semantics (SURVEY.md §2 O-7..O-23, O-28) as
  * oracle-checked queries over deterministic pseudo-observations derived
  * from the `events` table ([[Observations]]).
  */
object WeatherQueries extends QueryModule {

  /** The shared observation derivation. `wide = true` floors the scan
    * parallelism before the derivation (ops/Parallelism; identity once
    * the scan splits ≥ session width) — ONLY the multi-pass consumers
    * ask for it: q_weather_star re-runs the string-heavy enrich
    * pipeline five times (fact + 4 dims) over this frame, so the one
    * added exchange amortizes; for the single-pass queries (enrich,
    * trend, derived) the same exchange was a measured net regression
    * (r10: q_weather_enrich 0.145 → ~0.21 s at both core counts — the
    * exchange moves the same bytes the single pass reads). */
  private def obs(spark: SparkSession, dir: String,
      wide: Boolean = false): DataFrame = {
    val base = Tables(spark, dir, "events")
      .select("event_id", "user_id", "ts", "value")
    Observations.fromEvents(
      if (wide) graft.ops.Parallelism.widen(base, col("event_id"))
      else base)
  }

  /** DuckDB CTE: obs + the full datetime/metric enrichment, mirroring
    * [[WeatherEtl.enrich]] expression-by-expression. */
  private val enrichedCte: String = Observations.oracleCte + """,
    |enriched AS (
    |  SELECT *,
    |    strftime(make_timestamp(("timestamp" + timezone) * 1000000), '%Y-%m-%d %H:%M:%S') AS recorded_datetime_local,
    |    strftime(make_timestamp(("timestamp" + timezone) * 1000000), '%Y-%m-%d') AS recorded_date_local,
    |    strftime(make_timestamp((sunset_ts + timezone) * 1000000), '%Y-%m-%d %H:%M:%S') AS sunset_datetime_local,
    |    strftime(make_timestamp((sunrise_ts + timezone) * 1000000), '%Y-%m-%d %H:%M:%S') AS sunrise_datetime_local,
    |    'Q' || CAST(quarter(make_timestamp(("timestamp" + timezone) * 1000000)) AS VARCHAR) AS recorded_quarter_local,
    |    CASE WHEN month(make_timestamp(("timestamp" + timezone) * 1000000)) BETWEEN 3 AND 5 THEN 'Spring'
    |         WHEN month(make_timestamp(("timestamp" + timezone) * 1000000)) BETWEEN 6 AND 8 THEN 'Summer'
    |         WHEN month(make_timestamp(("timestamp" + timezone) * 1000000)) BETWEEN 9 AND 11 THEN 'Fall'
    |         ELSE 'Winter' END AS recorded_season_local,
    |    dayname(make_timestamp(("timestamp" + timezone) * 1000000)) AS recorded_weekday_local,
    |    monthname(make_timestamp(("timestamp" + timezone) * 1000000)) AS recorded_month_local,
    |    CAST(year(make_timestamp(("timestamp" + timezone) * 1000000)) AS BIGINT) AS recorded_year_local,
    |    CAST(floor(((sunset_ts - sunrise_ts) % 86400 + 86400) % 86400 / 60) AS BIGINT) AS daylight_duration_minutes,
    |    floor((temp - (100 - humidity) / 5) * 100.0 + 0.5) / 100.0 AS dew_point,
    |    floor(((0.5 * ((temp * 1.8 + 32) + 61.0 + (((temp * 1.8 + 32) - 68.0) * 1.2) + (humidity * 0.094)) - 32) * 5 / 9) * 100.0 + 0.5) / 100.0 AS heat_index
    |  FROM obs
    |)""".stripMargin

  override def defs: Seq[(String, QueryDef)] = Seq(

    // O-7..O-16: the full datetime-enrichment branch.
    "q_weather_enrich" -> QueryDef(
      fn = (spark, dir) => WeatherEtl.enrich(obs(spark, dir))
        .select("obs_id", "station_id", "recorded_datetime_local",
          "recorded_date_local", "sunset_datetime_local",
          "sunrise_datetime_local", "recorded_quarter_local",
          "recorded_season_local", "recorded_weekday_local",
          "recorded_month_local", "recorded_year_local",
          "daylight_duration_minutes")
        .orderBy("obs_id"),
      oracle = Some(enrichedCte + """
        |SELECT obs_id, station_id, recorded_datetime_local,
        |       recorded_date_local, sunset_datetime_local,
        |       sunrise_datetime_local, recorded_quarter_local,
        |       recorded_season_local, recorded_weekday_local,
        |       recorded_month_local, recorded_year_local,
        |       daylight_duration_minutes
        |FROM enriched ORDER BY obs_id""".stripMargin),
      bench = true),

    // ---- Regression analytics: per-station temperature trend
    // (least-squares slope of temp vs time). All moment sums
    // accumulate as EXACT integers (epoch seconds x temp-in-
    // centidegrees, decimal(38,0) / HUGEINT) so the only floating
    // ops are the two final double casts and one IEEE division —
    // bit-identical on both engines regardless of partitioning.
    // (Spark's regr_slope/corr builtins accumulate in doubles, whose
    // merge order is partition-dependent — unusable under a
    // hash-equality gate.)
    "q_weather_trend" -> QueryDef(
      fn = (spark, dir) => {
        def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        obs(spark, dir)
          .select(col("station_id"), col("timestamp").as("x"),
            floor(col("temp") * 100 + 0.5).as("y100"))
          .groupBy("station_id")
          .agg(count(lit(1)).as("n"),
            sum(d(col("x"))).as("sx"),
            sum(d(col("y100"))).as("sy"),
            sum(d(col("x")) * d(col("y100"))).as("sxy"),
            sum(d(col("x")) * d(col("x"))).as("sxx"))
          .select(col("station_id"), col("n"),
            ((d(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
              (d(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double"))
              .as("slope_e2_per_sec"))
          .orderBy("station_id")
      },
      oracle = Some(Observations.oracleCte + """,
        |t AS (
        |  SELECT station_id, "timestamp" AS x,
        |    CAST(floor(temp * 100 + 0.5) AS HUGEINT) AS y100
        |  FROM obs),
        |s AS (
        |  SELECT station_id, COUNT(*) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(y100) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y100) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
        |  FROM t GROUP BY station_id)
        |SELECT station_id, CAST(n AS BIGINT) AS n,
        |  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
        |    AS slope_e2_per_sec
        |FROM s ORDER BY station_id""".stripMargin)),

    // O-17..O-19: calculated-metrics branch (dew point + heat index).
    "q_weather_derived" -> QueryDef(
      fn = (spark, dir) => obs(spark, dir).select(
        col("obs_id"), col("temp"), col("humidity"),
        Weather.dewPoint(col("temp"), col("humidity")).as("dew_point"),
        Weather.heatIndexC(col("temp"), col("humidity")).as("heat_index")
      ).orderBy("obs_id"),
      oracle = Some(Observations.oracleCte + """
        |SELECT obs_id, temp, humidity,
        |       floor((temp - (100 - humidity) / 5) * 100.0 + 0.5) / 100.0 AS dew_point,
        |       floor(((0.5 * ((temp * 1.8 + 32) + 61.0 + (((temp * 1.8 + 32) - 68.0) * 1.2) + (humidity * 0.094)) - 32) * 5 / 9) * 100.0 + 0.5) / 100.0 AS heat_index
        |FROM obs ORDER BY obs_id""".stripMargin)),

    // O-21..O-23 + O-28: star-schema fan-out with deterministic surrogate
    // keys, then the warehouse's analytical star join: fact joined back to
    // all four dimensions, aggregated per station x season. The oracle
    // computes the equivalent direct aggregation (the surrogate-key joins
    // are identity by construction — same result, simpler SQL).
    "q_weather_star" -> QueryDef(
      fn = (spark, dir) => {
        // NOT persisted: with deterministic sha2 keys the five branches
        // recompute identical keys from the codegen'd enrich pipeline,
        // which benches 40% faster than materializing the wide frame
        // into the cache (measured at sf0.1: 3.5s -> 2.1s). uuid-mode
        // callers MUST persist (StarSink does) or fact/dim keys diverge.
        val keyed = StarSchema.withKeys(
          WeatherEtl.enrich(obs(spark, dir, wide = true)))
        val star = StarSchema.splitKeyed(keyed)
        star.fact
          .join(star.timeDim, "time_id")
          .join(star.paramDim, "parameter_id")
          .join(star.tempDim, "temp_id")
          .join(star.heatIndexDim, "heat_index_id")
          .groupBy(col("station_id"), col("record_season"))
          .agg(
            count(lit(1)).as("n_obs"),
            (sum(col("dew_point").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_dew_point"),
            (sum(col("heat_index").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_heat_index"),
            (sum(col("temp_range_max").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_temp_max"),
            sum(col("humidity")).as("sum_humidity"))
          .orderBy("station_id", "record_season")
      },
      oracle = Some(enrichedCte + """
        |SELECT station_id, recorded_season_local AS record_season,
        |       COUNT(*) AS n_obs,
        |       CAST(CAST(SUM(CAST(dew_point AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_dew_point,
        |       CAST(CAST(SUM(CAST(heat_index AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_heat_index,
        |       CAST(CAST(SUM(CAST(temp_max AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_temp_max,
        |       CAST(SUM(humidity) AS BIGINT) AS sum_humidity
        |FROM enriched
        |GROUP BY station_id, recorded_season_local
        |ORDER BY station_id, record_season""".stripMargin),
      bench = true),

    // ---- O-28 served from the WRITTEN warehouse — the written-once
    // counterpart to q_weather_star's re-fan-per-query demo: the star
    // is materialized ONCE per dataset (StarSink: record_date hive
    // partitioning + station range-clustering + record_id blooms) and
    // the query then reads it like a user would — a date-windowed
    // seasonal aggregate whose fact scan is STATICALLY pruned to the
    // last 7 of ~30 date partitions (literal cutoff, PartitionFilters
    // in the plan — StarLayoutSpec asserts it) and whose time-dim join
    // broadcasts the date-filtered dim slice. The other three dims
    // carry no date column, so their joins stay cost-model-chosen
    // (broadcast at this SF, SMJ at 100 TB — the healthy flip
    // PLANS.md documents); with the reference's 1:1 dims a frozen
    // broadcast hint on them would OOM the driver at scale.
    "q_weather_star_warehouse" -> QueryDef(
      fn = (spark, dir) => {
        val wh = warehouseFor(spark, dir)
        // memoized resolved relations (ops/Fs): the warehouse is
        // write-once per JVM, and re-resolving five relations per run
        // paid five footer/FileIndex jobs before any data moved
        val fact = graft.ops.Fs.resolvedParquet(spark, s"$wh/fact")
        val timeDim = graft.ops.Fs.resolvedParquet(spark, s"$wh/time_dim")
        val paramDim = graft.ops.Fs.resolvedParquet(spark, s"$wh/param_dim")
        val tempDim = graft.ops.Fs.resolvedParquet(spark, s"$wh/temp_dim")
        val hiDim = graft.ops.Fs.resolvedParquet(spark, s"$wh/heat_index_dim")
        // literal cutoff => static partition pruning (a subquery would
        // prune only at runtime via DPP). One narrow dim agg + a
        // driver-side date subtraction — the bounded metadata class.
        val maxDate = timeDim.agg(max(col("record_date"))).head().getString(0)
        val cutoff = java.time.LocalDate.parse(maxDate).minusDays(7).toString
        fact.filter(col("record_date") >= lit(cutoff))
          .join(broadcast(timeDim.filter(col("record_date") >= lit(cutoff))),
            "time_id")
          .join(paramDim, "parameter_id")
          .join(tempDim, "temp_id")
          .join(hiDim, "heat_index_id")
          .groupBy(col("station_id"), col("record_season"))
          .agg(
            count(lit(1)).as("n_obs"),
            (sum(col("dew_point").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_dew_point"),
            (sum(col("heat_index").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_heat_index"),
            (sum(col("temp_range_max").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_temp_max"),
            sum(col("humidity")).as("sum_humidity"))
          .orderBy("station_id", "record_season")
      },
      oracle = Some(enrichedCte + """
        |, windowed AS (
        |  SELECT * FROM enriched
        |  WHERE recorded_date_local >= (
        |    SELECT strftime(CAST(max(recorded_date_local) AS DATE)
        |      - INTERVAL 7 DAY, '%Y-%m-%d')
        |    FROM enriched))
        |SELECT station_id, recorded_season_local AS record_season,
        |       COUNT(*) AS n_obs,
        |       CAST(CAST(SUM(CAST(dew_point AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_dew_point,
        |       CAST(CAST(SUM(CAST(heat_index AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_heat_index,
        |       CAST(CAST(SUM(CAST(temp_max AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_temp_max,
        |       CAST(SUM(humidity) AS BIGINT) AS sum_humidity
        |FROM windowed
        |GROUP BY station_id, recorded_season_local
        |ORDER BY station_id, record_season""".stripMargin),
      bench = true)
  )

  /** The build-once star warehouse written from the events table —
    * what q_weather_star_warehouse and its spec read; production pins
    * ONE warehouse dir per corpus and re-runs StarSink per batch. */
  private[graft] def warehouseFor(spark: SparkSession, dir: String): String =
    graft.ops.BuildOnce.dir("star_wh", spark,
        Tables.paths(dir, "events")) { wh =>
      graft.pipeline.StarSink.write(
        WeatherEtl.enrich(obs(spark, dir, wide = true)), wh)
    }
}
