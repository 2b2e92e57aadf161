"""Per-query isolation harness for the optimization rounds (guide §1.4).

NOT the graded bench — bench.py is frozen for measurement. This file
exists so optimization work can time one query at a time with the noop
sink, capture `.explain("formatted")` plans, and break a query into
stages, without touching the driver contract.

Usage:
  python bench_extra.py time q1 [q2 ...]      # best-of-N noop-sink timing
  python bench_extra.py explain LABEL q1 ...  # write plans/<LABEL>/<q>.txt
  python bench_extra.py cpu WORKLOAD [SEED [PASSES]]  # CPU per perfbench span

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default 32), BENCH_EXTRA_REPS (default 3). Uses the same spread layout
and split settings bench.py uses so the numbers are comparable.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
import types

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "3"))
SCRATCH = os.environ.get("SPARK_GRAFT_BENCH_SCRATCH", "/tmp/dfss_bench")
CORPUS_TAG = "g4"
TPCH_QUERIES = {"pricing_summary", "region_revenue"}


def _spread_dir() -> str:
    sf_name = os.path.basename(SF_DIR.rstrip("/"))
    d = os.path.join(SCRATCH, f"spread_{CORPUS_TAG}_{sf_name}_p{CPUS * 2}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        import bench

        bench._materialize_spread_sf(d)
    return d


def _session():
    from docling_fast_server_spark.session import get_spark

    return get_spark("dfss-bench-extra", cores=CPUS, shuffle_partitions=CPUS)


def _configure(spark, name: str, spread: str) -> str:
    import bench

    if name in TPCH_QUERIES:
        bench._default_splits(spark)
        return SF_DIR
    bench._one_split_per_file(
        spark, f"{spread}/documents.parquet", f"{spread}/embeddings.parquet"
    )
    return spread


def _warm(spark, qs):
    qs["status_histogram"](spark, SF_DIR).collect()


def cmd_time(names: list[str]) -> None:
    import __spark_entry__ as entry_mod
    from docling_fast_server_spark.operators import dedup

    spread = _spread_dir()
    qs = entry_mod.queries()
    spark = _session()
    _warm(spark, qs)
    out = {}
    for name in names:
        qdir = _configure(spark, name, spread)
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        times = []
        for _ in range(REPS + 1):  # +1 untimed warm rep
            t0 = time.time()
            qs[name](spark, qdir).write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        dedup.clear_caches()
        spark.catalog.clearCache()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass
        out[name] = {
            "best": round(min(times[1:]), 3),
            "warm_first": round(times[0], 3),
            "all": [round(t, 3) for t in times],
        }
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    print(json.dumps({"summary": {k: v["best"] for k, v in out.items()}}))


def cmd_explain(label: str, names: list[str]) -> None:
    import __spark_entry__ as entry_mod

    spread = _spread_dir()
    qs = entry_mod.queries()
    spark = _session()
    out_dir = os.path.join("plans", label)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        qdir = _configure(spark, name, spread)
        df = qs[name](spark, qdir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_exchange = plan.count("Exchange")
        print(f"{path}: {len(plan.splitlines())} lines, {n_exchange} Exchange")
    spark.stop()


# JVM thread names (15-character /proc comm) -> the CPU class they count in
_THREAD_CLASSES = (
    ("Executor task", "task"),
    ("C1 CompilerThre", "jit"),
    ("C2 CompilerThre", "jit"),
    ("GC Thread", "gc"),
    ("G1 ", "gc"),
    ("Thread-", "py4j"),  # the gateway's connection threads
)
_CPU_COLS = ("task", "jit", "exited", "gc", "py4j", "jvm_other", "workers", "driver_py")


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        head, tail = f.read().rsplit(")", 1)  # the name may hold spaces
    return head.split("(", 1)[1], tail.split()


def _cpu_snapshot(jvm: int) -> dict:
    """Jiffies of the driver JVM (process total and each live thread),
    of the Python processes below it (daemon and workers, reaped ones
    included) and of this driver Python process."""
    from host import _descendants, _procs  # perfbench/, on sys.path in cmd_cpu

    threads = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            name, rp = _stat(f"/proc/{jvm}/task/{tid}/stat")
        except OSError:
            continue  # the thread exited while we listed
        threads[(int(tid), name)] = int(rp[11]) + int(rp[12])
    _, rp = _stat(f"/proc/{jvm}/stat")
    procs = _procs()
    _, me = _stat("/proc/self/stat")
    return {
        "jvm": int(rp[11]) + int(rp[12]),
        "threads": threads,
        "workers": sum(procs[p][1] for p in _descendants(procs, jvm)),
        "driver_py": int(me[11]) + int(me[12]),
    }


def _cpu_delta(a: dict, b: dict) -> dict:
    """CPU seconds between two snapshots by class. A thread that exits
    takes its CPU out of the live threads but not out of the process
    total, so "exited" is the total's growth minus the live threads'
    (HotSpot stops idle compiler threads, so much of it is JIT)."""
    clk = os.sysconf("SC_CLK_TCK")
    out = dict.fromkeys(_CPU_COLS, 0.0)
    live = 0
    for key, j in b["threads"].items():
        d = j - a["threads"].get(key, 0)
        live += d
        cls = next((c for pre, c in _THREAD_CLASSES if key[1].startswith(pre)), "jvm_other")
        out[cls] += d / clk
    out["exited"] = (b["jvm"] - a["jvm"] - live) / clk
    out["workers"] = (b["workers"] - a["workers"]) / clk
    out["driver_py"] = (b["driver_py"] - a["driver_py"]) / clk
    out["total"] = sum(out[c] for c in _CPU_COLS)
    return out


class _CpuSpans:
    """Stands in for perfbench's Tracer: each span records the wall time
    and the process-tree CPU by class around one call of a pass."""

    def __init__(self, jvm: int):
        self.jvm = jvm
        self.rows: dict[str, list[dict]] = {}
        self.record = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str = ""):
        box = types.SimpleNamespace(seconds=0.0)
        a, t0 = _cpu_snapshot(self.jvm), time.perf_counter()
        try:
            yield box
        finally:
            box.seconds = time.perf_counter() - t0
            if self.record:
                row = _cpu_delta(a, _cpu_snapshot(self.jvm))
                row["wall"] = box.seconds
                self.rows.setdefault(name, []).append(row)


def cmd_cpu(workload: str, seed: int, passes: int) -> None:
    """Run a perfbench workload as perfbench/run.py does (same inputs,
    session, environment and warm-up passes), then PASSES more passes,
    and print per span the median wall time and process-tree CPU split
    into task threads, JIT compiler threads, exited threads, GC, py4j,
    the rest of the JVM, the Python workers and the driver's Python,
    then one row per recorded pass (total, task, JIT and worker CPU).
    Reads /proc, so Linux only; perfbench/ is imported, not changed."""
    import shutil
    import statistics

    root = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.join(root, "perfbench"))
    import gen
    import run as perfbench_run
    from workloads import WORKLOADS, Ctx

    from docling_fast_server_spark.session import get_spark

    wl = WORKLOADS[workload]()
    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, "work", f"cpu-{workload}-s{seed}-{os.getpid()}")
    os.makedirs(work)
    perfbench_run._env(root, work)
    inputs, manifest = gen.cached_inputs(os.path.join(state, "cache"), seed, wl.n_docs, wl.n_vecs)
    spark = get_spark(
        f"cpu-{workload}", cores=perfbench_run.CORES, warehouse=os.path.join(work, "warehouse")
    )
    try:
        jvm = int(spark._jvm.ProcessHandle.current().pid())  # local mode: our child
        ctx = Ctx(spark, inputs, work, manifest)
        wl.prepare(ctx)
        tr = _CpuSpans(jvm)
        for k in range(wl.warmup_passes + passes):
            tr.record = k >= wl.warmup_passes
            with tr.span("pass"):
                wl.run_pass(ctx, k, tr)
    finally:
        perfbench_run._stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    cols = ("wall", "total") + _CPU_COLS
    print(f"{workload} seed {seed}: median over {passes} passes after "
          f"{wl.warmup_passes} warm-up, seconds")
    print(f"{'span':<36}" + "".join(f"{c:>10}" for c in cols))
    med = {}
    for name, rows in tr.rows.items():
        med[name] = {c: statistics.median(r[c] for r in rows) for c in cols}
        print(f"{name:<36}" + "".join(f"{med[name][c]:>10.3f}" for c in cols))
    # timed passes sit on a JIT warm-up slope that the medians hide
    pass_cols = ("total", "task", "jit", "workers")
    print(f"{'pass':<36}" + "".join(f"{c:>10}" for c in pass_cols))
    for k, row in enumerate(tr.rows["pass"], start=wl.warmup_passes):
        print(f"{k:<36}" + "".join(f"{row[c]:>10.3f}" for c in pass_cols))
    print(json.dumps({"workload": workload, "seed": seed, "passes": passes, "spans": med}))


def main() -> None:
    cmd = sys.argv[1]
    if cmd == "time":
        cmd_time(sys.argv[2:])
    elif cmd == "explain":
        cmd_explain(sys.argv[2], sys.argv[3:])
    elif cmd == "cpu":
        args = sys.argv[2:] + [None, None]
        cmd_cpu(args[0], int(args[1] or 3), int(args[2] or 8))
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()
