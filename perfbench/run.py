"""Benchmark of the spark-graft engine: one cold lap, then warm laps.

    python3 perfbench/run.py --workload sql_repeat --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Each run is one fresh process with one
closed-loop client on local[nproc]. It makes its inputs from --seed,
sets the engine up, runs a fixed, seed-determined list of calls into
the package once cold and then for a number of warm laps fixed by
--seconds, checks every output outside the timing, and prints one JSON
object as its last line: end-to-end metrics with --trace 0, per-layer
metrics from a traced run with --trace 1. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads as wl  # noqa: E402
import numpy as np  # noqa: E402
from spans import SparkCounters, Tracer, catalyst_phases  # noqa: E402

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "cold_cpu_s": "s",
              "warm_cpu_s": "s", "peak_rss_mb": "MB", "ok_frac": "ratio",
              "write_amp": "ratio", "space_amp": "ratio"}
PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_s": "s", "catalog.scan_mb": "MB", "catalog.scan_files": "count",
    "operators.build_s": "s",
    "llm_ops.build_s": "s", "llm_ops.build_jobs": "count", "llm_ops.cache_mb": "MB",
    "llm_ops.pyudf_s": "s", "llm_ops.arrow_mb": "MB",
    "catalyst.analysis_s": "s", "catalyst.optimizer_s": "s", "catalyst.planning_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.wall_s": "s", "exec.cpu_s": "s", "exec.busy_frac": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.fetch_wait_s": "s", "exec.spill_mb": "MB", "exec.gc_s": "s",
    "plans.transform_s": "s",
    "streaming.append_s": "s", "streaming.increment_s": "s",
    "streaming.compact_s": "s",
    "streaming.written_mb": "MB", "streaming.staged_mb": "MB",
    "streaming.store_mb": "MB", "streaming.store_files": "count",
    "trace.overhead_frac": "ratio", "host.microbench_s": "s",
}
STREAMING_VERBS = {"start_append": "append_s", "apply_index_increment": "increment_s",
                   "compact_index": "compact_s"}
MB = 2**20


def pin_environment(run_dir: str) -> dict:
    """Deployment settings the engine reads, pinned for every run: all
    scratch, shuffle and temp files on the run directory's medium."""
    cpus = os.cpu_count() or 1
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # a fixed heap (initial = max) keeps the JVM's resident size from
    # tracking its own resizing decisions; a sixth of RAM, 1-2 GiB
    heap = f"{max(1, min(2, int(mem_gib // 6)))}g"
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "scratch"), os.path.join(run_dir, "spark_local")):
        os.makedirs(d)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "spark_local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_SF_DIR": os.path.join(run_dir, "tables"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    }
    os.environ.update(env)
    tempfile.tempdir = None
    env["medium"] = _medium(run_dir)
    return env


def _medium(path: str) -> str:
    """'<fstype> <device>' of the mount holding `path`."""
    best = ("", "?", "?")
    with open("/proc/mounts") as fh:
        for line in fh:
            dev, mnt, fstype = line.split()[:3]
            if path.startswith(mnt.rstrip("/") + "/") and len(mnt) > len(best[0]):
                best = (mnt, fstype, dev)
    return f"{best[1]} {best[2]}"


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by `pid` and every live
    descendant, plus the children they have reaped: the Python driver,
    the JVM and its Python workers. Time the hypervisor steals is in
    none of them."""
    ticks, stack, seen = 0, [pid], set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited since it was listed
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        stack += [int(c) for c in _children(p)]
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all this guest's CPUs since boot, from
    /proc/stat: steal is time the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Harness:
    """Times each call, runs its check outside the timing, and in traced
    laps records spans and Spark counters per call."""

    def __init__(self, spark, trace: bool, staging_root: str | None):
        self.records: list[dict] = []
        self.tracer = Tracer() if trace else None
        self.counters = SparkCounters(spark, staging_root) if trace else None
        self.traced = False
        self.layers: dict[str, float] = {}
        self.check_s = 0.0

    def run_call(self, lap: int, call: wl.Call) -> tuple[float, float]:
        """(wall seconds, CPU seconds) of one call, check excluded."""
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            if self.traced:
                result = self._traced_call(call)
            else:
                value = call.build()
                result = call.act(value) if call.act else value
            ok = True
        except Exception:  # noqa: BLE001 - a failed call is counted, the run goes on
            traceback.print_exc()
            ok, result = False, None
        seconds = time.perf_counter() - t0
        cpu_s = tree_cpu_s(os.getpid()) - cpu0
        if ok and call.check is not None:
            t1 = time.perf_counter()
            try:
                ok = bool(call.check(result))
            except Exception:  # noqa: BLE001 - a failing check fails the call
                traceback.print_exc()
                ok = False
            self.check_s += time.perf_counter() - t1
        if not ok:
            print(f"perfbench: lap {lap} call {call.name} failed", file=sys.stderr)
        self.records.append({"lap": lap, "layer": call.layer, "name": call.name,
                             "seconds": seconds, "cpu_s": cpu_s, "ok": ok,
                             "traced": self.traced})
        return seconds, cpu_s

    def _traced_call(self, call: wl.Call):
        tr, L = self.tracer, self.layers
        tr.call_id += 1
        with tr.span(call.layer, op=call.name) as top:
            t0 = time.perf_counter()
            with tr.span("build") as b:
                value = call.build()
            build_s = time.perf_counter() - t0
            built = self.counters.since_last()
            with tr.span("exec"):
                result = call.act(value) if call.act else value
            ran = self.counters.since_last()
        seconds = top["end"] - top["start"]
        load_s = tr.child_seconds(top["id"], "catalog")
        in_build = tr.child_seconds(b["id"], "catalog")

        def add(key, v):
            L[key] = L.get(key, 0.0) + v

        add("catalog.load_s", load_s)
        for c in (built, ran):
            add("catalog.scan_mb", c["scan_bytes"] / MB)
            add("catalog.scan_files", c["scan_files"])
            for k in ("jobs", "stages", "tasks", "wall_s", "cpu_s", "fetch_wait_s", "gc_s"):
                add(f"exec.{k}", c[k])
            add("exec.shuffle_write_mb", c["shuffle_write_bytes"] / MB)
            add("exec.shuffle_read_mb", c["shuffle_read_bytes"] / MB)
            add("exec.spill_mb", c["spill_bytes"] / MB)
            if call.layer == "llm_ops":
                add("llm_ops.pyudf_s", c["pyudf_s"])
                add("llm_ops.arrow_mb", c["arrow_bytes"] / MB)
            if call.layer == "streaming":
                add("streaming.written_mb", c["written_bytes"] / MB)
                add("streaming.staged_mb", c["staged_bytes"] / MB)
        if call.layer in ("operators", "llm_ops"):
            add(f"{call.layer}.build_s", build_s - in_build)
        if call.layer == "llm_ops":
            add("llm_ops.build_jobs", built["jobs"])
        if call.layer == "plans":
            add("plans.transform_s", seconds)
        if call.layer == "streaming":
            add(f"streaming.{STREAMING_VERBS[call.name]}", seconds)
        if call.act is not None and hasattr(value, "_jdf"):
            phases = catalyst_phases(value)
            add("catalyst.analysis_s", phases["analysis"])
            add("catalyst.optimizer_s", phases["optimization"])
            add("catalyst.planning_s", phases["planning"])
        return result

    def wrap_catalog(self) -> None:
        """Record a `catalog` span around every load_table call the
        package makes (each module binds its own name for it)."""
        from coursera_etl_pipeline_spark import catalog

        original = catalog.load_table

        def load_table(*a, **k):
            if not self.traced:
                return original(*a, **k)
            with self.tracer.span("catalog"):
                return original(*a, **k)

        for name, mod in list(sys.modules.items()):
            if name.startswith("coursera_etl_pipeline_spark") and \
                    getattr(mod, "load_table", None) is original:
                mod.load_table = load_table


def stop_spark() -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    children = _children(proc.pid)
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while children and time.time() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in children:
        try:
            os.kill(int(p), 9)
        except OSError:
            pass
    SparkContext._gateway = SparkContext._jvm = None


def _children(pid: int) -> list[str]:
    out: list[str] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += fh.read().split()
    except OSError:
        pass
    return out


def measure(args, run_dir: str, env: dict) -> tuple[dict, dict]:
    import bench

    # traced runs are bracketed by the pure-CPU microbench (a host
    # diagnostic, never used to drop or rescale a run)
    microbench = [bench._microbench()] if args.trace else []
    name = args.workload
    n_warm = wl.n_warm_laps(name, args.seconds)
    if args.trace:
        n_warm = max(n_warm, 2)  # at least one traced and one untraced warm lap
    laps = 1 + n_warm
    w = wl.WORKLOADS[name](run_dir, args.scale)
    w.prepare(np.random.default_rng(args.seed), laps)
    inputs_hash = gen.tree_hash(run_dir)
    input_bytes = gen.tree_bytes(run_dir)

    t0 = time.perf_counter()
    from coursera_etl_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    session_s = time.perf_counter() - t0
    w.setup(spark)
    setup_s = time.perf_counter() - t0

    staging = getattr(w, "staging", None)
    h = Harness(spark, args.trace, staging)
    writes = SparkCounters(spark, staging)
    if args.trace:
        h.wrap_catalog()
    steal0 = host_steal()
    lap_s, lap_cpu, traced_lap = [], [], []
    per_lap_layers = []
    for i in range(laps):
        # traced runs alternate: the cold lap and odd warm laps traced
        h.traced = bool(args.trace) and (i == 0 or i % 2 == 1)
        h.layers = {}
        wall, cpu = zip(*(h.run_call(i, c) for c in w.lap(spark, i)))
        lap_s.append(sum(wall))
        lap_cpu.append(sum(cpu))
        traced_lap.append(h.traced)
        if h.traced:
            h.layers["llm_ops.cache_mb"] = h.counters.cached_bytes() / MB
            if name == "etl_ingest":
                h.layers["streaming.store_mb"] = gen.tree_bytes(w.store) / MB
                h.layers["streaming.store_files"] = sum(
                    len([f for f in fs if f.endswith(".parquet")])
                    for _, _, fs in os.walk(w.store))
            per_lap_layers.append((i, h.layers))
    steal = [b - a for a, b in zip(steal0, host_steal())]
    if args.trace:
        microbench.append(bench._microbench())

    written = writes.since_last(sql=False)["output_bytes"]
    if name == "etl_ingest":
        user = w.user_bytes()
        live = w.live_bytes(w.live_ids())
        stored = gen.tree_bytes(w.landing) + gen.tree_bytes(w.store)
    else:
        user = live = stored = input_bytes
    from pyspark import SparkContext

    rss = vm_hwm_mb("self") + vm_hwm_mb(SparkContext._gateway.proc.pid)
    n_ok = sum(r["ok"] for r in h.records)
    untraced = [not t for t in traced_lap[1:]]
    metrics = {
        "setup_s": setup_s,
        "cold_s": lap_s[0],
        "warm_s": statistics.median(s for s, u in zip(lap_s[1:], untraced) if u),
        "cold_cpu_s": lap_cpu[0],
        "warm_cpu_s": statistics.median(c for c, u in zip(lap_cpu[1:], untraced) if u),
        "peak_rss_mb": rss,
        "ok_frac": n_ok / len(h.records),
        "write_amp": (user + written) / user,
        "space_amp": stored / live,
    }
    info = {"workload": name, "seed": args.seed, "laps": laps, "lap_s": lap_s,
            "lap_cpu_s": lap_cpu, "session_s": session_s,
            "inputs_sha256": inputs_hash, "input_bytes": input_bytes,
            "microbench_s": microbench, "steal_frac": steal[0] / max(steal[1], 1),
            "env": env, "user_bytes": user, "written_bytes": written, "check_s": h.check_s,
            "call_s": call_seconds(h.records)}
    if args.trace:
        metrics = per_layer(h, per_lap_layers, lap_s, traced_lap, session_s,
                            microbench, info)
        h.tracer.write(os.path.join(args.out_dir, f"spans-{name}-{args.seed}.json"))
    return metrics, {"info": info, "records": h.records}


def call_seconds(records: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in records:
        out.setdefault(r["name"], []).append(round(r["seconds"], 4))
    return out


def per_layer(h: Harness, per_lap_layers, lap_s, traced_lap, session_s,
              microbench, info) -> dict:
    """Median over the traced warm laps of each layer counter; the cold
    lap's counters go to the diagnostics."""
    warm = [L for i, L in per_lap_layers if i > 0]
    out = {}
    for key in PER_LAYER:
        vals = [L.get(key, 0.0) for L in warm]
        out[key] = statistics.median(vals) if vals else 0.0
    cores = os.cpu_count() or 1
    busy = [L.get("exec.cpu_s", 0.0) / (L["exec.wall_s"] * cores)
            for L in warm if L.get("exec.wall_s")]
    out["exec.busy_frac"] = statistics.median(busy) if busy else 0.0
    out["session.start_s"] = session_s
    traced = [s for s, t in zip(lap_s[1:], traced_lap[1:]) if t]
    plain = [s for s, t in zip(lap_s[1:], traced_lap[1:]) if not t]
    out["trace.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1
    out["host.microbench_s"] = statistics.mean(microbench)
    ops: dict[str, list[float]] = {}
    for r in h.records:
        if r["lap"] > 0:
            ops.setdefault(r["name"], []).append(r["seconds"])
    info["ops"] = {n: {"p50_s": statistics.median(v), "tail_s": max(v), "samples": len(v)}
                   for n, v in ops.items()}
    info["cold_layers"] = dict(per_lap_layers[0][1]) if per_lap_layers else {}
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the benchmark uses 1)")
    args = p.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "coursera_etl_pipeline_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print("perfbench: no engine checkout around this directory", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench")
    args.out_dir = os.path.join(work, "out")
    os.makedirs(args.out_dir, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=work)
    cwd = os.getcwd()
    try:
        env = pin_environment(run_dir)
        os.chdir(run_dir)
        metrics, detail = measure(args, run_dir, env)
    finally:
        try:
            stop_spark()
        finally:
            os.chdir(cwd)
            shutil.rmtree(run_dir, ignore_errors=True)
    records = detail["records"]
    failed = sum(not r["ok"] for r in records)
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps(detail["info"]))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
