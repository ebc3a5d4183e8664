"""DuckDB side of the BASELINE.md comparison: times each headline
query's oracle SQL on the identical parquet files, same machine.
Prints one JSON line {"queries": {...}, "total": N, "sf": ...}."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from bench import HEADLINE, SF_DIR
from tools.oracle_check import duck_views


def main() -> None:
    con = duckdb.connect()
    duck_views(con, SF_DIR)
    oracles = entrymod.oracle_sql()
    per_query: dict[str, float] = {}
    for name in HEADLINE:
        sql = oracles.get(name)
        if sql is None:
            continue  # rows-only ops have no SQL equivalent
        con.execute(sql).fetchall()  # warm-up
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            samples.append(time.perf_counter() - t0)
        per_query[name] = round(statistics.median(samples), 3)
    print(json.dumps({
        "queries": per_query,
        "total": round(sum(per_query.values()), 3),
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
    }))


if __name__ == "__main__":
    main()
