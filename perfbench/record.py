#!/usr/bin/env python3
"""Re-derive the benchmark's stored expectations (perfbench/expected.json).

Usage (from the repository root):

    python3 perfbench/record.py

Steps, each through perfbench/run.py in record mode:

1. curation pool: stream every long document once, without duplicates;
   the admitted ids are the pool the curation epochs draw from.
2. ETL: the star fingerprint of one slot at every UTC offset the seed can
   pick. One slot is cross-checked against a DuckDB recomputation of the
   enrichment (modelled on WeatherQueries' enriched CTE) and its keys.
3. query_mix: every query's result fingerprint. Queries with an oracle
   are validated against DuckDB first, as tools/check.py does. The run
   also times each query's noop write against `.count()`.

Expectations are written only when every validation passes. Run this
only when a change to the program is meant to change its outputs.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "record")
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def record(workload, name, trace=0):
    out = os.path.join(OUT, name + ".json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace), "--record", out]
    subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr)
    if not os.path.exists(out):
        sys.exit(f"record step {workload} wrote nothing")
    return json.load(open(out))


def local(ts):
    return f"make_timestamp(({ts} + timezone) * 1000000)"


# the enrichment as DuckDB SQL, expression for expression
ENRICHED = f"""
SELECT *,
  strftime({local('"timestamp"')}, '%Y-%m-%d %H:%M:%S') AS record_datetime,
  strftime({local('"timestamp"')}, '%Y-%m-%d') AS record_date,
  'Q' || CAST(quarter({local('"timestamp"')}) AS VARCHAR) AS record_quarter,
  CASE WHEN month({local('"timestamp"')}) BETWEEN 3 AND 5 THEN 'Spring'
       WHEN month({local('"timestamp"')}) BETWEEN 6 AND 8 THEN 'Summer'
       WHEN month({local('"timestamp"')}) BETWEEN 9 AND 11 THEN 'Fall'
       ELSE 'Winter' END AS record_season,
  dayname({local('"timestamp"')}) AS record_weekday,
  monthname({local('"timestamp"')}) AS record_month,
  CAST(year({local('"timestamp"')}) AS BIGINT) AS record_year,
  floor((temp - (100 - humidity) / 5) * 100.0 + 0.5) / 100.0 AS dew_point,
  floor(((0.5 * ((temp * 1.8 + 32) + 61.0 + (((temp * 1.8 + 32) - 68.0) * 1.2)
    + (humidity * 0.094)) - 32) * 5 / 9) * 100.0 + 0.5) / 100.0 AS heat_index,
  sha256('record|' || obs_id) AS record_id,
  sha256('time|' || obs_id) AS time_id,
  sha256('parameter|' || obs_id) AS parameter_id,
  sha256('temp|' || obs_id) AS temp_id,
  sha256('heat_index|' || obs_id) AS heat_index_id
FROM obs
"""

COMPARED = ["record_id", "station_id", "time_id", "parameter_id", "temp_id",
            "heat_index_id", "record_datetime", "record_date", "record_quarter",
            "record_season", "record_weekday", "record_month", "record_year",
            "humidity", "pressure", "visibility", "cloudiness", "dew_point",
            "wind_speed", "wind_direction", "temp", "heat_index"]


def crosscheck_etl():
    """The kept slot's star, joined back together, must equal DuckDB's
    recomputation from the slot's raw observations row for row."""
    d = os.path.join(OUT, "etl_crosscheck")
    tz = json.load(open(os.path.join(d, "meta.json")))["tz"]
    con = duckdb.connect()
    con.sql(f"""CREATE VIEW obs AS SELECT *, {tz} AS timezone,
        station_id * 1000000000000 + "timestamp" AS obs_id
        FROM '{d}/observations/*.parquet'""")
    star = lambda t: f"read_parquet('{d}/star/{t}/**/*.parquet', hive_partitioning = true)"
    con.sql(f"""CREATE VIEW star AS
        SELECT f.record_id, f.station_id, f.time_id, f.parameter_id, f.temp_id,
               f.heat_index_id, t.record_datetime, t.record_date, t.record_quarter,
               t.record_season, t.record_weekday, t.record_month, t.record_year,
               p.humidity, p.pressure, p.visibility, p.cloudiness, p.dew_point,
               p.wind_speed, p.wind_direction, tt.temp, h.heat_index,
               CAST(f.record_date AS VARCHAR) AS fact_record_date
        FROM {star('fact')} f
        JOIN {star('time_dim')} t USING (time_id)
        JOIN {star('param_dim')} p USING (parameter_id)
        JOIN {star('temp_dim')} tt USING (temp_id)
        JOIN {star('heat_index_dim')} h USING (heat_index_id)""")
    cols = ", ".join(COMPARED)
    expected = con.sql(f"SELECT {cols} FROM ({ENRICHED}) ORDER BY record_id").fetchall()
    got = con.sql(f"SELECT {cols} FROM star ORDER BY record_id").fetchall()
    bad_dates = con.sql("SELECT count(*) FROM star WHERE fact_record_date <> record_date").fetchone()[0]
    if expected != got or not got or bad_dates:
        diffs = [(a, b) for a, b in zip(expected, got) if a != b][:2]
        sys.exit(f"ETL cross-check FAILED: {len(expected)} vs {len(got)} rows, "
                 f"{bad_dates} fact partitions off their date, first diffs {diffs}")
    print(f"ETL cross-check PASS: {len(got)} rows at offset {tz}", file=sys.stderr)


def validate_queries(rec):
    """Oracle queries: the recorded Spark result equals DuckDB's."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    passed, failed = [], []
    for key, sql in sorted(rec.items()):
        if not key.startswith("oracle/"):
            continue
        name = key.split("/", 1)[1]
        s = con.sql(f"SELECT * FROM '{OUT}/queries/{name}/*.parquet'").df()
        try:
            d = con.sql(sql).df()
        except duckdb.IOException as e:
            # the oracle reads an artifact the Spark run wrote to its
            # own scratch dir, which is gone once the run has ended
            print(f"SKIP oracle {name}: {e}", file=sys.stderr)
            continue
        s, d = s[sorted(s.columns)], d[sorted(d.columns)]
        ok = list(s.columns) == list(d.columns) and len(s) == len(d)
        for c in s.columns if ok else []:
            sv, dv = s[c], d[c]
            if len(sv) and (isinstance(sv.iloc[0], (list, tuple))
                            or "ndarray" in type(sv.iloc[0]).__name__):
                sv, dv = sv.map(lambda x: str(list(x))), dv.map(lambda x: str(list(x)))
            if sv.dtype != dv.dtype or not ((sv == dv) | (sv.isna() & dv.isna())).all():
                ok = False
        print(f"{'PASS' if ok else 'FAIL'} oracle {name} ({len(s)} rows)", file=sys.stderr)
        (passed if ok else failed).append(name)
    if failed:
        sys.exit(f"oracle validation FAILED: {failed}")
    return passed


def main():
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    pool = record("curation_pool", "pool")["pool"]
    etl = record("etl_offsets", "etl")
    crosscheck_etl()
    # traced, so the run also times each query's noop write against
    # .count() (printed below, for the README's table)
    queries = record("query_mix", "queries", trace=1)
    validated = validate_queries(queries)
    expected = {
        "curation": {"pool": pool},
        "etl": {},
        "queries": {k.split("/", 1)[1]: v for k, v in sorted(queries.items())
                    if k.startswith("queries/")},
        "oracle_validated": validated,
    }
    for key, fp in etl.items():
        _, size, tz = key.split("/")
        expected["etl"].setdefault(size, {})[tz] = fp
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    for name, t in sorted(queries.get("noop_vs_count", {}).items()):
        print(f"{name}: noop {t['noop_s']:.3f} s, count {t['count_s']:.3f} s", file=sys.stderr)
    print(f"wrote expected.json: {len(pool)} pool docs, {len(etl)} ETL offsets, "
          f"{len(expected['queries'])} queries ({len(validated)} oracle-validated)",
          file=sys.stderr)


if __name__ == "__main__":
    main()
