"""The A/B harness (tools/ab.py), the scale replicas (tools/scale.py),
the registry sweep and its oracle diff report, the single reader of
Spark's status stores, the single DuckDB view helper, the host-sized
driver heap and the session's codegen cache."""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

ARMS = '''
from coursera_etl_pipeline_spark.registry import QUERIES


def same(spark, sf_dir):
    return QUERIES["q1_pricing_summary"](spark, sf_dir)


def drop_one(spark, sf_dir):
    df = same(spark, sf_dir)
    return df.exceptAll(df.limit(1))


def counted(spark, sf_dir):
    with open(__file__ + ".calls", "a") as f:
        f.write("x")
    return spark.range(3)
'''


@pytest.fixture
def ab(monkeypatch, tmp_path):
    from tools import ab

    monkeypatch.setattr(ab, "CYCLES", 2)
    (tmp_path / "arms.py").write_text(ARMS)
    return ab


def test_ab_equal_arms_report_every_cycle(ab, spark, sf_dir, tmp_path):
    out = ab.run(spark, ["q1_pricing_summary", f"{tmp_path}/arms.py:same"],
                 sf_dir)
    assert len(out) == 2
    for metrics in out.values():
        assert len(metrics["wall_s"]["samples"]) == 2
        assert metrics["jobs"]["median"] > 0
        # the warm-up cycle compiled q1's classes; no sample recompiles
        assert metrics["codegen_compiles"]["samples"] == [0, 0]


def test_ab_dropped_row_fails_the_checksum(ab, spark, sf_dir, tmp_path):
    arm = f"{tmp_path}/arms.py:drop_one"
    match = re.escape(f"cycle 0: arm {arm} ")
    with pytest.raises(AssertionError, match=match):
        ab.run(spark, ["q1_pricing_summary", arm], sf_dir)


def test_ab_warm_up_cycle_is_called_but_not_sampled(ab, spark, sf_dir,
                                                    tmp_path):
    out = ab.run(spark, [f"{tmp_path}/arms.py:counted"], sf_dir)
    calls = (tmp_path / "arms.py.calls").read_text()
    assert len(calls) == ab.CYCLES + 1
    assert len(out[f"{tmp_path}/arms.py:counted"]["wall_s"]["samples"]) \
        == ab.CYCLES


def test_replicas_shift_keys_or_suffix_tokens_and_rebuild_when_stale(
        spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from tools import scale

    src = tmp_path / "sf"
    src.mkdir()
    for t in ("nation", "orders", "documents"):
        (src / f"{t}.parquet").symlink_to(Path(sf_dir) / f"{t}.parquet")

    def read(d, t):
        return spark.read.parquet(f"{d}/{t}.parquet")

    def build(kind):
        return scale.build(spark, kind, 2, str(src), str(tmp_path))

    shifted = build("shifted")
    assert read(shifted, "nation").count() == read(src, "nation").count()
    for t, keys in (("orders", ["o_orderkey", "o_custkey"]),
                    ("documents", ["doc_id"])):
        # twice the rows and twice the distinct keys: the copies are disjoint
        base, rep = (read(d, t).agg(F.count("*"), *map(F.countDistinct, keys))
                     .first() for d in (src, shifted))
        assert list(rep) == [2 * n for n in base]

    distinct = build("distinct")
    docs = read(distinct, "documents")
    assert docs.count() == 2 * read(src, "documents").count()
    assert docs.filter(F.col("n_chars")
                       != F.coalesce(F.length("text"), F.lit(0))).count() == 0
    copy = F.col("doc_id") >= scale.STRIDES["distinct"][0]
    tokens = docs.select(copy.alias("copy"),
                         F.explode(F.split("text", " ")).alias("token"))
    assert tokens.groupBy("token").agg(F.countDistinct("copy").alias("n")) \
        .filter("n > 1").count() == 0

    marker, stale = Path(distinct) / scale.MARKER, Path(distinct) / "stale"
    stale.touch()
    assert build("distinct") == distinct and stale.exists()  # reused
    marker.write_text(json.dumps({"src": "/elsewhere", "k": 2}))
    build("distinct")
    assert not stale.exists()
    stale.touch()
    marker.unlink()
    build("distinct")
    assert not stale.exists() and marker.exists()


def test_duckdb_views_are_made_only_by_oracle_check():
    """tools/oracle_check.py::duck_views is the one place a DuckDB view
    over the fixture or replica parquet is made."""
    view = re.compile(r"CREATE (OR REPLACE )?VIEW [\w{}]+ AS SELECT \* FROM"
                      r"[\s\"f]*read_parquet")
    files = [*ROOT.glob("tools/**/*.py"), *ROOT.glob("tests/**/*.py")]
    found = [str(p.relative_to(ROOT)) for p in files
             if view.search(p.read_text())]
    assert [f for f in found if f != "tools/oracle_check.py"] == []


def test_status_stores_are_read_only_through_perfbench():
    """Spark's status tracker and stores have one reader,
    perfbench/spans.py::SparkCounters; tools/ab.py goes through it, so
    no script or package module may grow its own copy back."""
    reader = re.compile(r"statusTracker|statusStore|getJobIdsForGroup")
    files = [*ROOT.glob("coursera_etl_pipeline_spark/**/*.py"),
             *ROOT.glob("tools/**/*.py"), ROOT / "bench.py",
             ROOT / "__spark_entry__.py"]
    found = [str(p.relative_to(ROOT)) for p in files
             if reader.search(p.read_text())]
    assert found == []


def test_oracle_diff_names_the_one_divergent_row_and_column():
    """One changed value is one row on each side, with its column named,
    even where it moves the row to another sorted position."""
    from tools.oracle_check import diff_rows

    cols = ["id", "name", "score"]
    duck = [(str(i), f"n{i}", f"{i}.5") for i in range(5)]
    spark = [("7", "n0", "0.5")] + duck[1:]
    report = diff_rows(cols, spark, duck)
    assert report.startswith("1 spark-only / 1 duckdb-only rows")
    assert "columns differing: ['id'];" in report
    assert "spark-only: [('7', 'n0', '0.5')]" in report
    assert "duckdb-only: [('0', 'n0', '0.5')]" in report
    assert diff_rows(cols, duck[::-1], duck) is None


def test_sweep_reports_each_kind_of_flag_and_a_clean_query_clean(
        spark, sf_dir, monkeypatch, capsys):
    """A planted registry: one value diverges, one oracle column is
    HUGEINT (DuckDB's SUM over BIGINT), one plan crosses two tables with
    no ALLOWED row; each is reported as that kind only, the clean query
    reports nothing, and the CLI exits non-zero on any of them."""
    import sys

    import duckdb
    from pyspark.sql import functions as F

    from coursera_etl_pipeline_spark.catalog import load_table
    from tools import oracle_check

    def nation(spark, sf):
        return load_table(spark, sf, "nation")

    registry = {
        "planted_value": (
            lambda spark, sf: nation(spark, sf).select("n_nationkey", "n_name"),
            "SELECT n_nationkey, CASE WHEN n_nationkey = 3 THEN 'NATION_X' "
            "ELSE n_name END AS n_name FROM nation"),
        "planted_hugeint": (
            lambda spark, sf: nation(spark, sf).agg(
                F.sum(F.col("n_nationkey").cast("bigint")).alias("s")),
            "SELECT SUM(CAST(n_nationkey AS BIGINT)) AS s FROM nation"),
        "planted_cross": (
            lambda spark, sf: load_table(spark, sf, "region")
            .crossJoin(nation(spark, sf)).select("r_regionkey", "n_nationkey"),
            "SELECT r_regionkey, n_nationkey FROM region CROSS JOIN nation"),
        "clean": (lambda spark, sf: nation(spark, sf).select("n_regionkey"),
                  "SELECT n_regionkey FROM nation"),
    }
    monkeypatch.setattr(oracle_check.entrymod, "queries",
                        lambda: {n: q for n, (q, _) in registry.items()})
    monkeypatch.setattr(oracle_check.entrymod, "oracle_sql",
                        lambda: {n: o for n, (_, o) in registry.items()})
    con = duckdb.connect()
    oracle_check.duck_views(con, sf_dir)
    out = oracle_check.sweep(spark, con, sf_dir)

    assert list(out) == list(registry)
    assert out["planted_value"]["flags"] == []
    assert "columns differing: ['n_name'];" in out["planted_value"]["diff"]
    [flag] = out["planted_hugeint"]["flags"]
    assert flag.startswith("TYPE  s: spark bigint -> int vs duck HUGEINT")
    assert out["planted_hugeint"]["diff"] is None
    assert out["planted_cross"]["diff"] is None
    assert out["planted_cross"]["flags"] in (["PLAN  CartesianProduct"],
                                             ["PLAN  BroadcastNestedLoopJoin"])
    assert out["planted_cross"]["rows"] == 5 * 25
    assert out["clean"]["flags"] == [] and out["clean"]["diff"] is None
    assert out["clean"]["rows"] == 25

    monkeypatch.setattr(oracle_check, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(oracle_check, "SF_DIR", sf_dir)
    monkeypatch.setattr(sys, "argv", ["oracle_check.py"])
    assert oracle_check.main() == 1
    assert "1 pass, 3 fail" in capsys.readouterr().out
    monkeypatch.setattr(sys, "argv", ["oracle_check.py", "clean"])
    assert oracle_check.main() == 0


def test_driver_heap_is_half_the_host_within_bounds():
    from coursera_etl_pipeline_spark.session import driver_memory

    gib = 2**30
    assert driver_memory(int(15.6 * gib)) == "7g"
    assert driver_memory(64 * gib) == "32g"
    assert driver_memory(gib) == "1g"
    assert driver_memory(512 * gib) == "48g"


def test_dashboard_rerun_compiles_no_class(spark, sf_dir):
    """A second build-and-collect of perfbench's sql_repeat queries adds
    no Janino compile: the session's codegen cache holds the whole lap
    (about 200 entries), where Spark's 100-entry default LRU evicted
    each class before the lap came round to it again and the second
    pass recompiled classes of all 14. The stage id leaves the class
    names for the test: under AQE the id a codegen stage gets depends
    on the order in which the query's stages finish, so with the id in
    the name a stage's source can differ between two builds of
    events_funnel whatever the cache size."""
    from tools.ab import codegen_compiles  # puts perfbench on sys.path
    from workloads import SQL_QUERIES

    import __spark_entry__

    queries = __spark_entry__.queries()

    def lap() -> dict[str, int]:
        compiled = {}
        for name in SQL_QUERIES:
            before = codegen_compiles(spark)
            queries[name](spark, sf_dir).collect()
            compiled[name] = codegen_compiles(spark) - before
        return compiled

    use_id = "spark.sql.codegen.useIdInClassName"
    saved = spark.conf.get(use_id)
    try:
        spark.conf.set(use_id, "false")
        lap()
        assert {q: n for q, n in lap().items() if n} == {}
    finally:
        spark.conf.set(use_id, saved)
