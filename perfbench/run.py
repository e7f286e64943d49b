"""Layered benchmark for branch-versioned reads, commits and merge-on-read
churn.

    python3 perfbench/run.py --workload analytic_reads --seed 1 --seconds 10 --trace 0

Runs one closed-loop workload (one client: this driver session, on
local[nproc]) from the root of a checkout, checks every result, prints a
report and, as its last line, one JSON object. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` times the same ops with per-layer
probes, writes the spans under ``perfbench/results/`` and reports the
per-layer metrics plus the tracing overhead against the last untraced run
of the workload.

Set-up time runs from the package import to the first timed op; making the
seeded inputs is the benchmark's own work and is not in it. Wall-clock
timings take out CPU steal, the time the hypervisor gave this VM's CPUs to
other guests (``harness.steal_factor``). The bounded cost of an op is its
CPU time, which waiting for a CPU does not add to.

Everything the run writes lives in ``perfbench/.work/`` and is deleted at
the end; only ``perfbench/results/`` is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = os.path.join(ROOT, "lakefs_iceberg_catalog_spark", "__init__.py")
DRIVER_MEM = "2g"  # well under the host's RAM; the engine's default is 48g
SF = 0.01  # generated star schema: lineitem about 60k rows

# name -> (unit, workloads that report it). BENCHMARK.json bounds the ones
# every workload has; the rest are printed for the workloads they apply to.
E2E = {
    "setup_s": ("s", "all"),
    "cpu_s_per_op": ("s", "all"),
    "read_p50_s": ("s", "all"),
    "ops_per_min": ("1/min", "all"),
    "peak_rss_mb": ("MB", "all"),
    "read_p90_s": ("s", "all"),
    "write_p50_s": ("s", "branch_commit mor_churn"),
    "write_p90_s": ("s", "branch_commit mor_churn"),
    "branch_op_p50_ms": ("ms", "branch_commit"),
    "branch_op_p90_ms": ("ms", "branch_commit"),
    "write_amp": ("ratio", "branch_commit mor_churn"),
    "space_amp": ("ratio", "branch_commit mor_churn"),
    "error_rate": ("ratio", "all"),
}

CATALOG_WRITES = ["append", "insert_values", "delete_where", "update_where", "merge_upsert"]
CATALOG_BRANCH = ["create_branch", "commit_branch", "merge", "create_tag"]
CATALOG_READS = ["scan", "scan_version", "diff_equal"]
ICEBERG_OPS = [
    "append", "delete_where_mor", "update_where_mor", "merge_upsert_mor",
    "rewrite_position_deletes", "rewrite_data", "expire_snapshots", "scan",
]
DELTA_OPS = ["commit", "delete_where_dv", "update_where_dv", "merge_upsert", "optimize", "checkpoint", "scan"]


def per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "operators.build_s": "s",
        "operators.action_s": "s",
        "operators.tpch_query_s": "s",
        "operators.llm_query_s": "s",
        "operators.cache_peak_mb": "MB",
    }
    units.update({f"catalog.{n}_s": "s" for n in CATALOG_WRITES + CATALOG_READS})
    units.update({f"catalog.{n}_ms": "ms" for n in CATALOG_BRANCH})
    units["sql_facade.select_s"] = "s"
    units.update({f"iceberg_format.{n}_s": "s" for n in ICEBERG_OPS})
    units["iceberg_format.delete_files_live"] = "count"
    units.update({f"delta_format.{n}_s": "s" for n in DELTA_OPS})
    units.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.in_job_s": "s", "spark.outside_job_s": "s", "spark.slot_busy_ratio": "ratio",
        "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
        "driver.py_cpu_s": "s", "jvm.cpu_s": "s", "pyworker.cpu_s": "s",
        "storage.files_written": "count", "storage.bytes_written": "bytes",
        "storage.metadata_bytes_written": "bytes", "storage.files_live": "count",
        "storage.bytes_live": "bytes",
    })
    return units


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["analytic_reads", "branch_commit", "mor_churn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=SF, help="scale of the generated star schema")
    ap.add_argument("--corrupt", action="store_true", help="self-test: make one expected result wrong")
    return ap.parse_args()


def pin_environment(work: str) -> dict:
    """One temp dir holds every table root, Spark's local dirs and the JVM's
    temp files; the engine's CPU count and driver heap are pinned."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Every JVM, spark-submit's launcher too: perf data would go to
        # /tmp/hsperfdata_<user> whatever java.io.tmpdir says.
        # Compiler threads stay alive, so their CPU time can be left out.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        # The heap is committed and touched up front, so peak RSS does not
        # follow G1's run-to-run heap sizing (measured: 0.9-1.5 GB on one
        # seed); it moves with off-heap, driver and worker memory.
        "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch" pyspark-shell',
    })
    return {"cpus": cpus, "driver_mem": DRIVER_MEM}


def host_info(spark, pinned: dict, steal_pct: float) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": pinned["cpus"],
        "driver_mem": pinned["driver_mem"],
        "load1": round(os.getloadavg()[0], 2),
        "steal_pct": round(steal_pct, 1),  # of the timed ops' wall time
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "flush": "page cache only (the write path never calls fsync)",
    }


def ship_package(spark) -> None:
    """A run's cwd is not the checkout, so the Python workers could not
    import the package unless it is shipped to them."""
    from lakefs_iceberg_catalog_spark import shipping

    shipping.ensure_workers_can_import(spark)


def stop(spark) -> None:
    """Stop Spark, then wait for the JVM (and the workers it forked)."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- metrics


def p50(xs: list[float]) -> float:
    """Median, or 0 for a layer the workload never calls."""
    from harness import percentile

    return percentile(xs, 50) if xs else 0.0


def e2e_metrics(run, wl, ctx, setup_s: float, peak_rss: float, keep: float,
                engine_cpu_s: float) -> tuple[dict, dict, dict]:
    """``keep`` scales every timing, wall-clock and CPU, to take CPU steal
    out; ``engine_cpu_s`` is the JVM's and Python workers' CPU time over
    the timed rounds."""
    from harness import BRANCH, READ, WRITE, p90_is_valid, percentile

    by = {c: [o.wall * keep for o in run.ops if o.cls == c] for c in (READ, WRITE, BRANCH)}
    out = {
        "setup_s": setup_s,
        "cpu_s_per_op": keep * (sum(o.driver_cpu for o in run.ops) + engine_cpu_s) / len(run.ops),
        "read_p50_s": percentile(by[READ], 50),
        "ops_per_min": 60.0 * len(run.ops) / sum(o.wall * keep for o in run.ops),
        "peak_rss_mb": peak_rss,
        "read_p90_s": percentile(by[READ], 90),
        "error_rate": sum(not o.ok for o in run.ops) / len(run.ops),
    }
    if by[WRITE]:
        out["write_p50_s"] = percentile(by[WRITE], 50)
        out["write_p90_s"] = percentile(by[WRITE], 90)
        out["write_amp"] = run.written["bytes_written"] / run.logical_bytes
        out["space_amp"] = run.storage.live()["bytes_live"] / wl.live_logical_bytes(ctx)
    if by[BRANCH]:
        out["branch_op_p50_ms"] = 1000 * percentile(by[BRANCH], 50)
        out["branch_op_p90_ms"] = 1000 * percentile(by[BRANCH], 90)
    valid = {f"{c}_p90": p90_is_valid(len(v)) for c, v in by.items() if v}
    return out, {c: len(v) for c, v in by.items()}, valid


def layer_metrics(run, ctx, session_start_s: float) -> dict:
    from workloads import LLM_KEYS, TPCH_KEYS

    ops = run.ops
    m = {k: 0.0 for k in per_layer_units()}
    m["session.start_s"] = session_start_s

    def wall(pred):
        return p50([o.wall for o in ops if pred(o.name)])

    analytic = [o for o in ops if o.build_s is not None and o.name in TPCH_KEYS + LLM_KEYS]
    m["operators.build_s"] = p50([o.build_s for o in analytic])
    m["operators.action_s"] = p50([o.action_s for o in analytic])
    m["operators.tpch_query_s"] = wall(lambda n: n in TPCH_KEYS)
    m["operators.llm_query_s"] = wall(lambda n: n in LLM_KEYS)
    m["operators.cache_peak_mb"] = run.cache_peak_mb if analytic else 0.0
    for n in CATALOG_WRITES + CATALOG_READS:
        m[f"catalog.{n}_s"] = wall(lambda x, n=n: x == n)
    for n in CATALOG_BRANCH:
        m[f"catalog.{n}_ms"] = 1000 * wall(lambda x, n=n: x == n)
    m["sql_facade.select_s"] = wall(lambda x: x == "sql_select")
    for n in ICEBERG_OPS:
        m[f"iceberg_format.{n}_s"] = wall(lambda x, n=n: x == f"iceberg.{n}")
    for n in DELTA_OPS:
        m[f"delta_format.{n}_s"] = wall(lambda x, n=n: x == f"delta.{n}")
    m["iceberg_format.delete_files_live"] = p50(ctx.state.get("delete_files_live", []))

    t = [o.trace for o in ops]
    for key in ("jobs", "stages", "tasks", "in_job_s", "outside_job_s"):
        m[f"spark.{key}"] = p50([x[key] for x in t])
    in_job = sum(x["in_job_s"] for x in t)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m["spark.slot_busy_ratio"] = sum(x["task_s"] for x in t) / (in_job * cores) if in_job else 0.0
    for key in ("shuffle_read", "shuffle_write", "spill"):  # mean per op: rare spills show
        m[f"spark.{key}_mb"] = sum(x[key] for x in t) / len(t) / (1024 * 1024)
    m["driver.py_cpu_s"] = p50([x["driver_cpu_s"] for x in t])
    m["jvm.cpu_s"] = p50([x["jvm_cpu_s"] for x in t])
    m["pyworker.cpu_s"] = sum(x["pyworker_cpu_s"] for x in t) / len(t)  # mean: most ops use no worker
    if run.storage is not None:
        m.update({f"storage.{k}": float(v) for k, v in run.written.items()})
        m.update({f"storage.{k}": float(v) for k, v in run.storage.live().items()})
    return m


# -------------------------------------------------------------------- main


def main() -> int:
    args = parse_args()
    if not os.path.isfile(PROGRAM):
        print(f"perfbench: no program to measure ({PROGRAM} is missing)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> int:
    pinned = pin_environment(work)
    data_dir = os.path.join(work, "data")
    if args.workload == "analytic_reads":
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--root", ROOT, "--seed", str(args.seed),
             "--sf", str(args.sf), "--out", data_dir],
            check=True,
        )
    os.chdir(work)  # spark-warehouse and other cwd-relative files land here

    from harness import stolen_s

    steal0 = stolen_s()
    t0 = time.perf_counter()
    from lakefs_iceberg_catalog_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    try:
        return measure_in_session(args, work, data_dir, spark, pinned, t0, steal0, session_start_s)
    finally:
        stop(spark)


def measure_in_session(args, work, data_dir, spark, pinned, t0, steal0, session_start_s) -> int:
    from harness import Processes, Run, steal_factor, stolen_s
    from workloads import WORKLOADS, Ctx

    ship_package(spark)
    start_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload]()
    ctx = Ctx(spark, args.seed, work, data_dir, args.corrupt)
    procs = Processes(spark.sparkContext._gateway.proc.pid)
    fixture_s = []
    for _ in range(wl.FIXTURES):
        f0 = time.perf_counter()
        wl.setup(ctx)
        fixture_s.append(time.perf_counter() - f0)
    wl.prepare(ctx)
    setup_s = start_s + statistics.median(fixture_s)
    setup_s *= steal_factor((stolen_s() - steal0) / (time.perf_counter() - t0))

    run = Run(spark, procs, ctx.state.get("root"), bool(args.trace))
    ctx.run = run
    rounds = max(1, round(args.seconds / wl.ROUND_S))
    engine0 = procs.engine_cpu_s()
    begin = time.time()
    for _ in range(rounds):
        wl.round(ctx)
    measured_s = time.time() - begin
    engine_cpu_s = procs.engine_cpu_s() - engine0
    ctx.run = check = Run(spark, procs, None, False)
    wl.verify(ctx)
    rss = procs.rss_breakdown_mb()
    peak = sum(rss.values())
    steal = sum(o.stolen for o in run.ops) / sum(o.wall for o in run.ops)
    e2e, counts, valid = e2e_metrics(run, wl, ctx, setup_s, peak, steal_factor(steal), engine_cpu_s)
    host = host_info(spark, pinned, 100.0 * steal)

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "sf": args.sf,
        "rounds": rounds, "measured_s": measured_s, "samples": counts, "p90_valid": valid,
        "fixture_s": fixture_s, "session_start_s": session_start_s,
        "host": host, "e2e": e2e,
        "peak_rss_by_process_mb": rss,
        "ops": [[o.cls, o.name, o.wall, o.ok] for o in run.ops],
    }
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} rounds={rounds} "
          f"ops={len(run.ops)} measured={measured_s:.1f}s samples={counts}")
    print("host " + " ".join(f"{k}={v}" for k, v in host.items()))
    for name, value in e2e.items():
        note = ""
        if name.endswith("_p90_s") or name.endswith("_p90_ms"):
            cls = {"read": "read", "write": "write", "branch_op": "branch_op"}[name.split("_p90")[0]]
            if not valid.get(f"{cls}_p90"):
                note = f"  (not valid: {counts[cls]} samples leave fewer than 10 beyond p90)"
        print(f"e2e {name} {value:.6g} {E2E[name][0]}{note}")
    failures = [o for o in run.ops + check.ops if not o.ok]
    for o in failures:
        print(f"failed {o.name}: {o.error.strip().splitlines()[-1]}")

    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounded = [m["name"] for m in spec["end_to_end"]]
    if args.trace:
        layers = layer_metrics(run, ctx, session_start_s)
        report["per_layer"] = layers
        units = per_layer_units()
        for name, value in layers.items():
            print(f"layer {name} {value:.6g} {units[name]}")
        base_path = os.path.join(results, f"{args.workload}.trace0.json")
        base = None
        if os.path.exists(base_path):
            with open(base_path) as f:
                base = json.load(f)
        if base is not None and (base["sf"], base["rounds"]) == (args.sf, rounds):
            report["overhead"] = {k: e2e[k] - base["e2e"][k] for k in bounded if k in base["e2e"]}
            for k, v in report["overhead"].items():
                print(f"overhead {k} {v:+.6g} {E2E[k][0]} (traced minus the last untraced run)")
        else:
            print("overhead n/a: no untraced run of this workload at this scale and length in perfbench/results yet")
        with open(os.path.join(results, f"{args.workload}.spans.json"), "w") as f:
            json.dump({"spans": run.spans, "ops": [o.__dict__ for o in run.ops]}, f)
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {k: {"value": e2e[k], "unit": E2E[k][0]} for k in bounded}
    with open(os.path.join(results, f"{args.workload}.trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(run.ops) + len(check.ops),
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
