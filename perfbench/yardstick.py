#!/usr/bin/env python3
"""DuckDB yardstick for the `backfill` workload (not a gated workload).

    python3 perfbench/yardstick.py --seed N [--with-spark]

Run from the repository root. It lands the same JSON-lines files the
`backfill` workload lands for that seed, then runs the pipeline per day in
DuckDB with `read_json` and the dbt models' SQL: ingest into raw, the
source tests, stg_weather, the dim_locations and fct_weather_observations
marts with their tests, and parquet writes like runBatch's (raw appended
per day, dim overwritten, fct partitioned by extraction_date). It prints
one JSON line: DuckDB payload rows per second over the warm days and, with
--with-spark, the backfill workload's rows per second for the same seed,
run right after in the same window, and their ratio.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

# as many threads as the Spark side's local[4], and as many days as one
# backfill run lands at SPARK_SECONDS (cold + 1 warm-up + 3 measured)
THREADS = 4
DAYS = 5
SPARK_SECONDS = 9

PAYLOAD = ('{"location":{"name":"VARCHAR","country":"VARCHAR"},'
           '"current":{"temperature":"INTEGER","weather_descriptions":["VARCHAR"],'
           '"humidity":"INTEGER","wind_speed":"INTEGER","wind_dir":"VARCHAR",'
           '"pressure":"INTEGER","visibility":"INTEGER","uv_index":"INTEGER",'
           '"observation_time":"VARCHAR"},'
           '"error":{"code":"INTEGER","info":"VARCHAR"}}')

INGEST = """
CREATE OR REPLACE TEMP TABLE raw AS
SELECT hash(coalesce(j.location.name, city), TIMESTAMP '{interval}') AS id,
       coalesce(j.location.name, city) AS city,
       j.location.country AS country,
       j.current.temperature AS temperature,
       j.current.weather_descriptions[1] AS weather_description,
       j.current.humidity AS humidity,
       j.current.wind_speed AS wind_speed,
       j.current.wind_dir AS wind_direction,
       j.current.pressure AS pressure,
       j.current.visibility AS visibility,
       j.current.uv_index AS uv_index,
       strptime(j.current.observation_time, '%I:%M %p') AS observation_time,
       TIMESTAMP '{now}' AS extracted_at,
       TIMESTAMP '{interval}' AS data_interval_start
FROM (SELECT city,
             -- a CASE, not a WHERE: a filter does not stop json_transform
             -- from being evaluated on the malformed payloads
             CASE WHEN json_valid(raw_json) THEN json_transform(raw_json, '{payload}') END AS j
      FROM read_json('{landing}', columns = {{'city': 'VARCHAR', 'raw_json': 'VARCHAR'}},
                     format = 'newline_delimited'))
WHERE j IS NOT NULL AND j.error IS NULL
"""

STG = """
CREATE OR REPLACE TEMP VIEW stg AS
SELECT id, upper(trim(city)) AS city_clean, upper(trim(country)) AS country_clean, temperature,
       CASE WHEN lower(weather_description) LIKE '%sunny%' THEN 'Clear'
            WHEN lower(weather_description) LIKE '%rain%' THEN 'Rain'
            WHEN lower(weather_description) LIKE '%cloud%' THEN 'Cloudy'
            ELSE trim(weather_description) END AS weather_category,
       humidity, wind_speed, wind_direction, pressure, visibility, uv_index,
       observation_time, extracted_at, data_interval_start,
       CASE WHEN temperature < 0 THEN 'Freezing' WHEN temperature <= 10 THEN 'Cold'
            WHEN temperature <= 20 THEN 'Mild' WHEN temperature <= 30 THEN 'Warm'
            ELSE 'Hot' END AS temperature_category,
       CAST(extracted_at AS DATE) AS extraction_date
FROM raw
WHERE temperature IS NOT NULL AND temperature BETWEEN -50 AND 60 AND city IS NOT NULL
"""

DIM = """
CREATE OR REPLACE TEMP VIEW dim AS
SELECT DISTINCT md5(coalesce(city_clean, '_dbt_utils_surrogate_key_null_') || '-' ||
                    coalesce(country_clean, '_dbt_utils_surrogate_key_null_')) AS location_key,
       city_clean AS city, country_clean AS country,
       min(extracted_at) AS first_observation_date, max(extracted_at) AS last_observation_date,
       count(*) AS total_observations
FROM stg GROUP BY city_clean, country_clean
"""

FCT = """
CREATE OR REPLACE TEMP VIEW fct AS
SELECT id AS observation_id,
       md5(coalesce(city_clean, '_dbt_utils_surrogate_key_null_') || '-' ||
           coalesce(country_clean, '_dbt_utils_surrogate_key_null_')) AS location_key,
       temperature, temperature_category, weather_category, humidity, wind_speed, pressure,
       extraction_date, hour(extracted_at) AS extraction_hour,
       dayofweek(extracted_at) AS day_of_week, extracted_at, data_interval_start
FROM stg
"""

SOURCE_TESTS = [
    "SELECT id FROM raw GROUP BY id HAVING count(*) > 1 LIMIT 1",
    "SELECT 1 FROM raw WHERE id IS NULL OR city IS NULL OR extracted_at IS NULL LIMIT 1",
]
MART_TESTS = [
    "SELECT location_key FROM dim GROUP BY location_key HAVING count(*) > 1 LIMIT 1",
    "SELECT 1 FROM dim WHERE location_key IS NULL OR total_observations IS NULL LIMIT 1",
    "SELECT 1 FROM fct WHERE observation_id IS NULL OR location_key IS NULL"
    " OR extracted_at IS NULL LIMIT 1",
    "SELECT 1 FROM fct WHERE temperature_category NOT IN"
    " ('Freezing', 'Cold', 'Mild', 'Warm', 'Hot') LIMIT 1",
]


def run_day(con, landing, out, day, interval, now):
    con.execute(INGEST.format(landing=landing, interval=interval, now=now, payload=PAYLOAD))
    con.execute(f"COPY raw TO '{out}/raw/weather/day={day:03d}.parquet' (FORMAT parquet)")
    for t in SOURCE_TESTS:
        assert con.sql(t).fetchone() is None, t
    con.execute(STG)
    con.execute(DIM)
    con.execute(FCT)
    for t in MART_TESTS:
        assert con.sql(t).fetchone() is None, t
    con.execute(f"COPY dim TO '{out}/marts/dim_locations.parquet' (FORMAT parquet)")
    con.execute(f"COPY fct TO '{out}/marts/fct_weather_observations' "
                "(FORMAT parquet, PARTITION_BY (extraction_date), OVERWRITE_OR_IGNORE)")
    raw = con.sql("SELECT count(*) FROM raw").fetchone()[0]
    fct = con.sql("SELECT count(*) FROM fct").fetchone()[0]
    return raw, fct


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--with-spark", action="store_true")
    a = ap.parse_args()

    cp, _ = bench.build()
    work = os.path.join(bench.BUILD, "work", f"yardstick-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    landing, out = os.path.join(work, "landing"), os.path.join(work, "out")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(out, "raw", "weather"), exist_ok=True)
    os.makedirs(os.path.join(out, "marts"), exist_ok=True)
    try:
        subprocess.run(bench.java_cmd(cp, tmp, ["--gen-backfill", landing, "--seed", str(a.seed),
                                             "--days", str(DAYS)]),
                       env=bench.jvm_env(tmp), check=True, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=bench.RUN_TIMEOUT_S)
        days = [l.rstrip("\n").split("\t") for l in open(os.path.join(landing, "expect.tsv"))]
        con = duckdb.connect(config={"threads": THREADS})
        walls, rows, wrong = [], [], []
        for day, interval, now, payloads, want_raw, want_fct in days:
            d = int(day)
            t0 = time.perf_counter()
            raw, fct = run_day(con, os.path.join(landing, f"day={d:03d}", "*.json"), out, d,
                               interval.replace("T", " ").rstrip("Z"), now.replace("T", " ").rstrip("Z"))
            walls.append(time.perf_counter() - t0)
            rows.append(int(payloads))
            if (raw, fct) != (int(want_raw), int(want_fct)):
                wrong.append(d)
        res = {"seed": a.seed, "days": len(days), "threads": THREADS,
               "duckdb_cold_s": walls[0],
               "duckdb_rows_per_s": sum(rows[1:]) / sum(walls[1:]),
               "duckdb_wrong_days": wrong, "duckdb_version": duckdb.__version__}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.with_spark:
        r = subprocess.run([sys.executable, os.path.join(bench.HERE, "run.py"), "--workload", "backfill",
                            "--seed", str(a.seed), "--seconds", str(SPARK_SECONDS), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
        detail = json.loads(r.stdout.strip().splitlines()[-2])
        res["spark_rows_per_s"] = detail["backfill_rows_per_s"]
        res["spark_over_duckdb_time_ratio"] = res["duckdb_rows_per_s"] / detail["backfill_rows_per_s"]
    print(json.dumps(res))


if __name__ == "__main__":
    main()
