package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator demo: a Spark query plus (optionally) an
  * equivalent DuckDB SQL oracle over the same parquet tables.
  *
  * @param fn     (spark, sfDir) => result DataFrame. Must be totally
  *               ordered by a unique key so row order is deterministic.
  * @param oracle ANSI SQL for DuckDB over the same tables (bare table
  *               names, e.g. `lineitem`). None for ops that SQL can't
  *               express — the driver then records a rows-only check.
  * @param bench  include in the headline benchmark set run by [[Bench]].
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false)

/** A group of related query definitions (one per SURVEY.md §2 operator). */
trait QueryModule {
  def defs: Seq[(String, QueryDef)]
}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  * Plain `spark.read.parquet` — Catalyst pushes filters/projections
  * into the scan, so no extra plumbing is needed here.
  *
  * The RESOLVED relation is a [[graft.ops.BuildOnce]] value keyed on
  * the session and the table file's signature: `spark.read.parquet`
  * runs a footer/schema-inference job and builds a FileIndex on every
  * call, which a bench/serving process would repay for every query ×
  * run (measured: q_nation_revenue paid six sequential ~60 ms
  * resolution jobs per run — ~0.4 s of its 1.1 s — before any data
  * moved). Only plan metadata is kept — every execution still scans
  * the parquet data. A rewritten file re-resolves; the bound and
  * clearing are the catalog's, as for every other artifact.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** The files (or dirs) of the named tables in dataset dir `dir` —
    * the sources an artifact built from those tables keys on. */
  def paths(dir: String, names: String*): Seq[String] = names.map(path(dir, _))

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    graft.ops.BuildOnce.value("table", spark, Seq(p), spark)(
      resolve(spark, p, name))
  }

  private def resolve(spark: SparkSession, path: String,
      name: String): DataFrame =
    if (name == "events") {
      // the driver's events.ts is TIMESTAMP(NANOS) parquet, which
      // Spark 4 refuses to read natively; read nanos as long and
      // truncate to microseconds (exact integer division — same
      // truncation DuckDB applies). Schema-gated: a dir whose events
      // already carry a plain TIMESTAMP (e.g. a tools.ScaleUp output)
      // reads through unchanged.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      val df = spark.read.parquet(path)
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        // scaled dirs store ntz (so DuckDB sees naive timestamps, not
        // machine-tz-shifted TIMESTAMPTZ); queries expect ltz — the
        // cast is wall-preserving under the pinned UTC session tz
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else spark.read.parquet(path)
}
