"""Relational operator pack (SURVEY §2.2).

Importing this package registers every relational query in the
registry. Modules: relational (filters/joins/aggs/sorts/setops and
TPC-H shapes; skewed join partitions are left to AQE's skew-join
split, session.py), windows (ranking/analytic/frames), scalars
(string/date/math/json), quality (table-level data-quality
expectations), asof (as-of join), merge (upsert/SCD2), subqueries,
tpch_extra (the remaining TPC-H shapes).
"""

from coursera_etl_pipeline_spark.operators import (  # noqa: F401
    asof,
    merge,
    quality,
    relational,
    scalars,
    subqueries,
    tpch_extra,
    windows,
)
