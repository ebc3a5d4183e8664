"""Local replica of the driver's DuckDB-oracle correctness gate, and the
one sweep over the query registry that every registry-wide check shares.

`sweep` builds each queries()[name] once and takes three checks from
that build, against the matching oracle_sql()[name] run on DuckDB over
the same parquet tables:

- types: every output column's Spark type and DuckDB type fall in the
  same class of a shared lattice (below);
- plan nodes: the formatted physical plan, read before the action so
  AQE's final-plan rewrites do not change what is flagged, holds no
  `plan_audit.NODES` operator without an `ALLOWED` row;
- values: the multiset of normalized rows; a mismatch reports the rows
  only one side has and the columns they differ in.

Usage (exits non-zero on any value diff or type, plan or error flag):

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
from tools.plan_audit import ALLOWED, NODES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# The type lattice. The driver hashes values, and a value-identical pair
# can still hash apart on type: DuckDB widens SUM/list_sum over BIGINT
# to HUGEINT and decimal math to DECIMAL where Spark stays BIGINT/DOUBLE.
# Anything outside these classes is flagged: HUGEINT and DECIMAL
# anywhere (decimals are accumulator internals, never outputs), raw
# TIMESTAMP outputs (certified timestamps are formatted to strings) and
# nested outputs.
_DUCK_OK = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "UTINYINT": "int", "USMALLINT": "int", "UINTEGER": "int",
    "FLOAT": "float", "DOUBLE": "float",
    "VARCHAR": "str", "BOOLEAN": "bool", "DATE": "date",
}
_SPARK_OK = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float",
    "string": "str", "boolean": "bool", "date": "date",
}


def duck_class(t: str) -> str:
    """Lattice class, or a loud marker for hash-risky types."""
    t = str(t).upper()
    if t in _DUCK_OK:
        return _DUCK_OK[t]
    if t == "HUGEINT":
        return "HUGEINT(hash-risk: cast to BIGINT)"
    if t.startswith("DECIMAL"):
        return "DECIMAL(hash-risk: cast to DOUBLE/BIGINT)"
    if t.startswith("TIMESTAMP"):
        return "TIMESTAMP(contract: format to string)"
    return f"UNMAPPED({t})"


def spark_class(t: str) -> str:
    t = t.lower()
    if t in _SPARK_OK:
        return _SPARK_OK[t]
    if t.startswith("decimal"):
        return "DECIMAL(hash-risk: cast to DOUBLE/BIGINT)"
    if t.startswith("timestamp"):
        return "TIMESTAMP(contract: format to string)"
    return f"UNMAPPED({t})"


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


def compare(sdf, rel) -> dict:
    """One (Spark frame, DuckDB relation) pair: `flags` holds a COLS
    flag when the column sets differ, else one TYPE flag per column
    outside the lattice or unlike its DuckDB column; `diff` is the
    `diff_rows` report of one collect() against one fetch (None when
    equal); `rows` is the Spark row count."""
    stypes = dict(sdf.dtypes)
    dtypes = dict(zip(rel.columns, map(str, rel.types)))
    if sorted(sdf.columns) != sorted(rel.columns):
        return {"flags": [f"COLS  spark-only={sorted(set(stypes) - set(dtypes))}"
                          f" duck-only={sorted(set(dtypes) - set(stypes))}"],
                "diff": None, "rows": 0}
    flags = []
    for c, st in stypes.items():
        sc, dc = spark_class(st), duck_class(dtypes[c])
        if sc != dc or "(" in sc or "(" in dc:
            flags.append(f"TYPE  {c}: spark {st} -> {sc}"
                         f" vs duck {dtypes[c]} -> {dc}")
    sc, sr = norm_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    _, dr = norm_rows(rel.columns, rel.fetchall())
    return {"flags": flags, "diff": diff_rows(sc, sr, dr), "rows": len(sr)}


def formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def sweep(spark, con, sf_dir: str, names=None) -> dict[str, dict]:
    """Per query in `names` (default: the whole registry), in registry
    order: `compare`'s flags, diff and row count, plus one PLAN flag per
    unexpected plan node, an ERR flag if either engine raised, and the
    seconds the build and both checks took."""
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    out = {}
    for name in (names or queries):
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir)
            plan = formatted_plan(sdf)
            res = compare(sdf, con.sql(oracles[name]))
            res["flags"] += [f"PLAN  {node}" for node in NODES
                             if node in plan and (name, node) not in ALLOWED]
        except Exception as e:  # noqa: BLE001 — the sweep reports, never hides
            res = {"flags": [f"ERR   {type(e).__name__}: {e}"],
                   "diff": None, "rows": 0}
        res["seconds"] = time.time() - t0
        out[name] = res
    return out


def main() -> int:
    spark = get_spark("oracle_check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    duck_views(con, SF_DIR)
    results = sweep(spark, con, SF_DIR, sys.argv[1:])
    failures = []
    for name, r in results.items():
        if not r["flags"] and r["diff"] is None:
            print(f"PASS  {name}: {r['rows']} rows [{r['seconds']:.1f}s]")
            continue
        failures.append(name)
        for flag in r["flags"]:
            print(f"FAIL  {name}: {flag}")
        if r["diff"]:
            print(f"FAIL  {name}: VALUE {r['diff']}")
    print(f"\n{len(results) - len(failures)} pass, {len(failures)} fail")
    if failures:
        print("failures:", " ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
