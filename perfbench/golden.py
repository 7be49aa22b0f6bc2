#!/usr/bin/env python3
"""Recompute the golden row counts in registry.tsv with the DuckDB oracle.

    python3 perfbench/golden.py --oracle-sql OUT/oracle_sql.json

`oracle_sql.json` is the per-query oracle SQL that `graft.Verify` writes
into its output directory. Each query's golden count is the row count of
its oracle SQL over the benchmark's sf0.01 tables (perfbench/data/sf0.01).
The module and sample columns of registry.tsv are kept as they are.
"""
import argparse
import json
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--oracle-sql", required=True)
    ap.add_argument("--data", default=os.path.join(HERE, "data", "sf0.01"))
    ap.add_argument("--registry", default=os.path.join(HERE, "registry.tsv"))
    a = ap.parse_args()
    oracle = json.load(open(a.oracle_sql))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{a.data}/{t}.parquet'")
    header, rows = [], []
    for line in open(a.registry):
        if line.startswith("#"):
            header.append(line)
            continue
        q, module, _, sample = line.rstrip("\n").split("\t")
        n = con.sql(f"SELECT count(*) FROM ({oracle[q]}) AS o").fetchone()[0]
        rows.append((q, module, n, sample))
    with open(a.registry, "w") as f:
        f.writelines(header)
        for r in rows:
            f.write("\t".join(map(str, r)) + "\n")


if __name__ == "__main__":
    main()
