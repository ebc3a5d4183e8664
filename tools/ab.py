"""Interleaved A/B of query arms, or the layer profile of one query.

    python tools/ab.py ARM [ARM ...]

An arm is a registered query name or `path/to/file.py:callable`; both
have the registry signature `(spark, sf_dir) -> DataFrame`. To compare
against an older implementation, copy its function into a file and pass
that file as an arm. The SF dir is `SPARK_GRAFT_SF_DIR` (default sf0.1).

One untimed cycle runs every arm once, so the session's first-query
cost (class loading, codegen, first scans) lands in no sample. Then
each of CYCLES cycles runs every arm once, rotating which arm goes
first. The plan build (the call) is timed apart from execution (a noop
write); execution counters come from perfbench's `SparkCounters`, read
once the listener bus is drained, and the Catalyst phases from
`catalyst_phases` (the noop write plans in a query execution of its
own, so the arm's frame is planned once more, untimed, to read them).
Outside the timing, every arm's canonical Arrow digest must equal the
first arm's, or an AssertionError names the cycle and the arm. Prints
one JSON line per arm: the median and the samples of each metric.
`build_jobs` are the jobs the call itself ran (eager probes, iterative
loops); `jobs` and the other counters are the noop write's.
`codegen_compiles` are the Janino compiles of the call and the noop
write together: warm samples read 0 unless the arm generates source
that differs from build to build or outgrows the codegen cache.
`gc_s` is the JVM's collector time over the call and the noop write.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "perfbench"))

from spans import SparkCounters, catalyst_phases  # noqa: E402
from workloads import canonical, digest  # noqa: E402

from coursera_etl_pipeline_spark.catalog import DEFAULT_SF_DIR  # noqa: E402

CYCLES = 10
COUNTS = ("jobs", "stages", "tasks", "cpu_s")
MEGABYTES = {"shuffle_write_mb": "shuffle_write_bytes",
             "shuffle_read_mb": "shuffle_read_bytes",
             "spill_mb": "spill_bytes"}


def resolve(arm: str):
    """A registered query name or `path/to/file.py:callable` -> callable."""
    if ":" not in arm:
        import __spark_entry__  # noqa: F401  (registers every query)
        from coursera_etl_pipeline_spark.registry import QUERIES

        return QUERIES[arm]
    path, name = arm.rsplit(":", 1)
    spec = importlib.util.spec_from_file_location(
        os.path.splitext(os.path.basename(path))[0], path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return getattr(module, name)


def codegen_compiles(spark) -> int:
    """Janino compiles so far in this JVM: each is a codegen cache miss
    (a source misses once for the driver and once for the executors)."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def gc_seconds(spark) -> float:
    """Collector time so far in this JVM, summed over its collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(bean.getCollectionTime() for bean in beans) / 1000


def run_arm(spark, fn, sf_dir: str,
            counters: SparkCounters) -> tuple[dict, str]:
    """One timed call of one arm -> (its metrics, its output digest)."""
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def read() -> dict:
        # the listener bus fills the status store asynchronously: drain
        # it so a last stage's completion event is counted
        bus.waitUntilEmpty()
        return counters.since_last(sql=False)

    read()
    compiled, gc_s = codegen_compiles(spark), gc_seconds(spark)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    build_jobs = read()["jobs"]
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    ran = read()
    compiled = codegen_compiles(spark) - compiled
    gc_s = gc_seconds(spark) - gc_s
    df._jdf.queryExecution().executedPlan()
    m = {"wall_s": t2 - t0, "build_s": t1 - t0,
         "catalyst_s": sum(catalyst_phases(df).values()),
         "build_jobs": build_jobs, "codegen_compiles": compiled,
         "gc_s": gc_s,
         **{k: ran[k] for k in COUNTS},
         **{k: ran[key] / 2**20 for k, key in MEGABYTES.items()}}
    return m, digest(canonical(df.toArrow()))


def run(spark, arms: list[str],
        sf_dir: str = DEFAULT_SF_DIR) -> dict[str, dict]:
    """Every arm's samples over CYCLES cycles, outputs checked per cycle."""
    fns = {arm: resolve(arm) for arm in arms}
    counters = SparkCounters(spark)
    samples: dict[str, list[dict]] = {arm: [] for arm in arms}
    for cycle in range(CYCLES + 1):  # cycle 0 is the untimed warm-up
        k = cycle % len(arms)
        sums = {}
        for arm in arms[k:] + arms[:k]:
            m, sums[arm] = run_arm(spark, fns[arm], sf_dir, counters)
            if cycle:
                samples[arm].append(m)
        for arm in arms[1:]:
            if sums[arm] != sums[arms[0]]:
                raise AssertionError(
                    f"cycle {cycle}: arm {arm} returned different rows "
                    f"from arm {arms[0]}")
    return {arm: {key: summary([m[key] for m in ms]) for key in ms[0]}
            for arm, ms in samples.items()}


def summary(values: list[float]) -> dict:
    return {"median": round(statistics.median(values), 4),
            "samples": [round(v, 4) for v in values]}


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    from coursera_etl_pipeline_spark.session import get_spark

    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")
    for arm, metrics in run(spark, argv).items():
        print(json.dumps({"arm": arm, **metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
