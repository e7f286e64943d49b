"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

For each workload it makes one short untraced run and one short traced run
whose expected results were corrupted on purpose. It checks that every
metric BENCHMARK.json names, and every metric the report prints, has a
finite value and the right unit; that the honest run is correct; and that
the corrupted run counts failed ops and a non-zero error_rate. Exits 0 when
all of that holds.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["branch_commit", "mor_churn", "analytic_reads"]


def run(workload: str, trace: int, corrupt: bool) -> tuple[dict, list[str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    if corrupt:
        cmd.append("--corrupt")
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}: {out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def check_metrics(result: dict, spec: list[dict], where: str) -> list[str]:
    errors = []
    got = result["metrics"]
    if set(got) != {m["name"] for m in spec}:
        errors.append(f"{where}: metric names differ from BENCHMARK.json: {sorted(set(got) ^ {m['name'] for m in spec})}")
    for m in spec:
        v = got.get(m["name"])
        if v is None:
            continue
        if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            errors.append(f"{where}: {m['name']} = {v['value']!r} is not finite")
        if v["unit"] != m["unit"]:
            errors.append(f"{where}: {m['name']} unit {v['unit']!r}, BENCHMARK.json says {m['unit']!r}")
    return errors


def report_values(lines: list[str], kind: str) -> dict[str, tuple[float, str]]:
    """``<kind> <name> <value> <unit>`` lines of the report."""
    out = {}
    for line in lines:
        parts = line.split()
        if len(parts) >= 4 and parts[0] == kind:
            out[parts[1]] = (float(parts[2]), parts[3])
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    from run import E2E, per_layer_units

    errors = []
    for w in WORKLOADS:
        honest, lines = run(w, 0, False)
        errors += check_metrics(honest, spec["end_to_end"], f"{w} trace 0")
        if not honest["correct"] or honest["failed"]:
            errors.append(f"{w}: honest run failed {honest['failed']} of {honest['attempted']} ops")
        printed = report_values(lines, "e2e")
        for name, (unit, workloads) in E2E.items():
            if workloads == "all" or w in workloads.split():
                if name not in printed:
                    errors.append(f"{w}: report does not print {name}")
                elif not math.isfinite(printed[name][0]) or printed[name][1] != unit:
                    errors.append(f"{w}: report prints {name} as {printed[name]}")

        bad, lines = run(w, 1, True)
        errors += check_metrics(bad, spec["per_layer"], f"{w} trace 1")
        layers = report_values(lines, "layer")
        for name, unit in per_layer_units().items():
            if name not in layers or not math.isfinite(layers[name][0]) or layers[name][1] != unit:
                errors.append(f"{w}: report prints layer {name} as {layers.get(name)}")
        error_rate = report_values(lines, "e2e").get("error_rate", (0.0, ""))[0]
        if bad["correct"] or bad["failed"] < 1 or error_rate <= 0:
            errors.append(f"{w}: a corrupted expected result left error_rate at {error_rate}")
        print(f"selftest {w}: honest {honest['attempted']} ops, corrupted run failed {bad['failed']}", flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest", "passed" if not errors else f"failed ({len(errors)} problems)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
