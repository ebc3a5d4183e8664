"""Output-TYPE parity audit over every registered query/oracle pair.

Motivation (round 9 lesson): `similarity_lsh_index_update` matched the
local value checker — whose `norm_cell` stringifies every cell — yet
failed the driver's value hash, because DuckDB's `list_sum` over
BIGINT widens to HUGEINT while the Spark side emitted int32. Values
stringified identically; their TYPES did not. The fix was a BIGINT
cast on both engines, but the class of bug is general: any oracle
whose output column is HUGEINT (sum/list_sum over BIGINT), DECIMAL
(sum over DECIMAL, bare numeric literals), or a raw TIMESTAMP (naive
vs UTC) can hash-diverge from a value-identical Spark result.

This audit closes the class: for each pair it compares the Spark
DataFrame schema (plan-only, nothing executed) against the DuckDB
relation types (`con.sql(...).types` — the concrete logical types,
unlike the DB-API description) under a shared lattice:

  int     TINYINT..BIGINT           <-> tinyint..bigint
  float   FLOAT/DOUBLE              <-> float/double
  str     VARCHAR                   <-> string
  bool    BOOLEAN                   <-> boolean
  date    DATE                      <-> date

and flags, hard, anything outside it: HUGEINT anywhere, DECIMAL
anywhere (the determinism contract says decimals are accumulator
internals, never outputs), raw TIMESTAMP outputs (the contract says
certified timestamps are formatted to strings), nested outputs, and
column-set mismatches. Run after adding or editing any oracle:

    python tools/type_parity_audit.py            # all queries
    python tools/type_parity_audit.py name ...   # subset

Exits non-zero on any flag. Round-10 baseline: 0 flags over 125
queries (2026-08-14).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from coursera_etl_pipeline_spark.session import get_spark
from tools.oracle_check import duck_views

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

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


def audit(spark, con, sf_dir: str, names=None) -> list[str]:
    """One line per flag over `names` (default: every query with an
    oracle; rows-only entries have no hash gate)."""
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    flags: list[str] = []
    for name in (names or queries):
        if name not in oracles:
            continue
        try:
            stypes = dict(queries[name](spark, sf_dir).dtypes)
            rel = con.sql(oracles[name])
            dtypes = dict(zip(rel.columns, [str(t) for t in rel.types]))
        except Exception as ex:  # noqa: BLE001 — audit reports, never hides
            flags.append(f"ERR   {name}: {type(ex).__name__}: {ex}")
            continue
        if set(stypes) != set(dtypes):
            flags.append(
                f"COLS  {name}: spark-only={sorted(set(stypes) - set(dtypes))}"
                f" duck-only={sorted(set(dtypes) - set(stypes))}")
            continue
        for c in stypes:
            sc, dc = spark_class(stypes[c]), duck_class(dtypes[c])
            if sc != dc or "(" in sc or "(" in dc:
                flags.append(f"TYPE  {name}.{c}: spark {stypes[c]} -> {sc}"
                             f" vs duck {dtypes[c]} -> {dc}")
    return flags


def main() -> int:
    names = sys.argv[1:] or list(entrymod.queries())
    spark = get_spark("type_parity_audit")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    duck_views(con, SF_DIR)
    flags = audit(spark, con, SF_DIR, names)
    for flag in flags:
        print(flag)
    print(f"{len(flags)} flag(s) over {len(names)} queries")
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
