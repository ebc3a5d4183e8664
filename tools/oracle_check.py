"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every queries()[name] on Spark and the matching oracle_sql()[name]
on DuckDB over the same parquet tables, compares column names and the
multiset of normalized rows, and on a mismatch reports the rows only
one side has and the columns they differ in. Usage:

    python tools/oracle_check.py [name ...]      # default: all
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/oracle_check.py
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from coursera_etl_pipeline_spark.catalog import TABLES, table_path
from coursera_etl_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], out


def diff_rows(cols, spark_rows, duck_rows):
    """None when both sides hold the same multiset of normalized rows;
    else a report of the rows only one side has: their counts, the
    columns whose values differ across them and up to three rows
    per side. One divergent row stays one row, not a shifted tail."""
    s, d = Counter(spark_rows), Counter(duck_rows)
    only_s, only_d = sorted((s - d).elements()), sorted((d - s).elements())
    if not only_s and not only_d:
        return None
    differ = [c for i, c in enumerate(cols)
              if {r[i] for r in only_s} != {r[i] for r in only_d}]
    return (f"{len(only_s)} spark-only / {len(only_d)} duckdb-only rows "
            f"(of {len(spark_rows)} / {len(duck_rows)}); columns differing: "
            f"{differ}; spark-only: {only_s[:3]}; "
            f"duckdb-only: {only_d[:3]}")


def duck_views(con, sf_dir: str) -> None:
    """One DuckDB view per table present in `sf_dir`, over a fixture
    file or a written dataset directory. An events.ts that DuckDB reads
    as BIGINT (nanos, as replicas built under nanosAsLong store it) is
    floored to micros the way catalog.normalize_ts does; a TIMESTAMP
    passes through."""
    for t in TABLES:
        p = table_path(sf_dir, t)
        if not os.path.exists(p):
            continue
        glob = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        scan = f"read_parquet('{glob}')"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {scan}")
        if t == "events" and str(
                con.sql("SELECT ts FROM events").types[0]) == "BIGINT":
            con.execute("CREATE OR REPLACE VIEW events AS SELECT * REPLACE "
                        f"(make_timestamp(ts // 1000) AS ts) FROM {scan}")


def main() -> int:
    only = set(sys.argv[1:])
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    duck_views(con, SF_DIR)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            n_rows_only += 1
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            continue
        sc, sr = norm_rows(scols, srows)
        dc, dr = norm_rows(dcols, drows)
        if sc != dc:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: columns differ spark={sc} duckdb={dc}")
            continue
        report = diff_rows(sc, sr, dr)
        if report:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: {report}")
            continue
        n_pass += 1
        print(f"PASS  {name}: {len(sr)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if failures:
        print("failures:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
