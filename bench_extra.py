"""Per-query isolation harness for the optimization rounds (guide §1.4).

NOT the graded bench — bench.py is frozen for measurement. This file
exists so optimization work can time one query at a time with the noop
sink, capture `.explain("formatted")` plans, and break a query into
stages, without touching the driver contract.

Usage:
  python bench_extra.py time q1 [q2 ...]      # best-of-N noop-sink timing
  python bench_extra.py explain LABEL q1 ...  # write plans/<LABEL>/<q>.txt

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default 32), BENCH_EXTRA_REPS (default 3). Uses the same spread layout
and split settings bench.py uses so the numbers are comparable.
"""

from __future__ import annotations

import json
import os
import sys
import time

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


def main() -> None:
    cmd = sys.argv[1]
    if cmd == "time":
        cmd_time(sys.argv[2:])
    elif cmd == "explain":
        cmd_explain(sys.argv[2], sys.argv[3:])
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()
