"""Measurement plumbing shared by the workloads.

Everything here observes the program from outside: it times the
benchmark's own calls into the program's public functions, reads Spark's
status store, ``/proc`` and the workload's storage root. Nothing is
patched into the program.

``Run.op`` is the closed loop's single entry: one client issues one
operation, waits for it, checks its result against the generator's
model, and only then issues the next.
"""

from __future__ import annotations

import math
import os
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

READ, WRITE, BRANCH = "read", "write", "branch_op"
_TICK = os.sysconf("SC_CLK_TCK")
_NCPU = os.cpu_count() or 1
_MB = 1024.0 * 1024.0
METADATA_DIRS = ("metadata", "_delta_log")  # plus every .json and .avro file


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in [0, 100]."""
    s = sorted(values)
    if not s:
        return float("nan")
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def p90_is_valid(n: int) -> bool:
    """A p90 stands on at least ten samples beyond it."""
    return n - math.ceil(0.9 * n) >= 10


# ------------------------------------------------------------------ /proc


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    """A ``/proc`` stat file as (command name, the fields after it)."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def _stat_fields(pid: int) -> list[str] | None:
    stat = _read_stat(f"/proc/{pid}/stat")
    return None if stat is None else stat[1]


def steal_factor(steal_share: float) -> float:
    """What a wall-clock timing is scaled by to take out CPU steal,
    ``steal_share`` being the stolen share of each CPU's time while it was
    measured: the share of that time the VM's CPUs actually ran."""
    return 1.0 - steal_share


def stolen_s() -> float:
    """CPU time the hypervisor gave to other guests, averaged over this
    VM's CPUs, since boot."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return steal / _TICK / _NCPU


def proc_cpu_s(pid: int, with_children: bool = False) -> float:
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])  # utime, stime
    if with_children:
        ticks += int(f[13]) + int(f[14])  # reaped children
    return ticks / _TICK


def jit_cpu_s(pid: int) -> float:
    """CPU time of the JVM's JIT compiler threads ("C1/C2 CompilerThread",
    cut to 15 characters in /proc). They live for the whole run: the
    benchmark turns off -XX:UseDynamicNumberOfCompilerThreads."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    ticks = 0
    for tid in tids:
        stat = _read_stat(f"/proc/{pid}/task/{tid}/stat")
        if stat is not None and stat[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            ticks += int(stat[1][11]) + int(stat[1][12])  # utime, stime
    return ticks / _TICK


def proc_mem_mb(pid: int, field: str) -> float:
    """``VmHWM`` (peak) or ``VmRSS`` (current) resident size."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class Processes:
    """The driver Python process, the JVM it launched, and the Python
    workers the JVM forks."""

    def __init__(self, jvm_pid: int):
        self.driver = os.getpid()
        self.jvm = jvm_pid
        self.workers_peak_mb = 0.0

    def workers(self) -> list[int]:
        return descendants(self.jvm)

    def engine_cpu_s(self) -> float:
        """CPU time of the JVM, less its JIT compiler threads, and of its
        Python workers (reaped ones too)."""
        return proc_cpu_s(self.jvm) - jit_cpu_s(self.jvm) + sum(proc_cpu_s(p, True) for p in self.workers())

    def cpu(self) -> dict[str, float]:
        return {
            "driver": time.process_time(),
            "jvm": proc_cpu_s(self.jvm),
            "pyworker": sum(proc_cpu_s(p, True) for p in self.workers()),
        }

    def sample_workers(self) -> None:
        """Python workers come and go (the JVM stops idle ones), so their
        resident sizes are summed after every op and the largest sum kept."""
        now = sum(proc_mem_mb(p, "VmRSS") for p in self.workers())
        self.workers_peak_mb = max(self.workers_peak_mb, now)

    def rss_breakdown_mb(self) -> dict[str, float]:
        """The driver's and the JVM's own peaks (VmHWM) and the workers'
        largest sampled sum. Their sum bounds the simultaneous peak from
        above, up to the workers' peaks between samples."""
        self.sample_workers()
        return {
            "driver": proc_mem_mb(self.driver, "VmHWM"),
            "jvm": proc_mem_mb(self.jvm, "VmHWM"),
            "workers": self.workers_peak_mb,
        }


# ---------------------------------------------------------------- storage


class StorageWalk:
    """Files under the workload's storage root, diffed between walks: a
    file that is new or whose size or mtime changed counts as written."""

    def __init__(self, root: str):
        self.root = root
        self.seen = self._walk()

    def _walk(self) -> dict[str, tuple[int, int]]:
        out = {}
        for dirpath, _, files in os.walk(self.root):
            for name in files:
                p = os.path.join(dirpath, name)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def step(self) -> dict[str, int]:
        now = self._walk()
        files = data = meta = 0
        for p, sig in now.items():
            if self.seen.get(p) != sig:
                files += 1
                if is_metadata(p):
                    meta += sig[0]
                else:
                    data += sig[0]
        self.seen = now
        return {"files_written": files, "bytes_written": data + meta, "metadata_bytes_written": meta}

    def live(self) -> dict[str, int]:
        return {"files_live": len(self.seen), "bytes_live": sum(s for s, _ in self.seen.values())}


def is_metadata(path: str) -> bool:
    parts = path.split(os.sep)
    return any(d in parts for d in METADATA_DIRS) or path.endswith((".json", ".avro"))


# ------------------------------------------------------------ spark jobs


class JobReader:
    """Reads each finished job and its stages from Spark's status store,
    once, right after the op that ran it."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.next_id = 0
        self.drain()

    def drain(self) -> list[dict]:
        jobs = []
        while True:
            try:
                j = self.store.job(self.next_id)
            except Py4JJavaError:
                return jobs
            self.next_id += 1
            sub, end = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and end.isDefined()):
                continue
            job = {
                "id": j.jobId(),
                "start": sub.get().getTime() / 1000.0,
                "end": end.get().getTime() / 1000.0,
                "stages": j.numCompletedStages(),
                "tasks": j.numCompletedTasks(),
                "task_s": 0.0,
                "shuffle_read": 0,
                "shuffle_write": 0,
                "spill": 0,
            }
            ids = j.stageIds()
            for i in range(ids.size()):
                try:
                    s = self.store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:
                    continue
                job["task_s"] += s.executorRunTime() / 1000.0
                job["shuffle_read"] += s.shuffleReadBytes()
                job["shuffle_write"] += s.shuffleWriteBytes()
                job["spill"] += s.diskBytesSpilled()
            jobs.append(job)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def rdd_storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / _MB


# -------------------------------------------------------------------- run


@dataclass
class Op:
    cls: str
    name: str
    start: float
    end: float
    ok: bool
    stolen: float = 0.0
    driver_cpu: float = 0.0
    error: str = ""
    build_s: float | None = None
    action_s: float | None = None
    trace: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Run:
    """One closed-loop client. ``trace`` switches on the per-op layer
    probes; untraced runs only time, check and walk storage."""

    def __init__(self, spark, procs: Processes, storage_root: str | None, trace: bool):
        from lakefs_iceberg_catalog_spark.operators.util import release_scoped

        self.spark = spark
        self.procs = procs
        self.release_scoped = release_scoped
        self.trace = trace
        self.storage = StorageWalk(storage_root) if storage_root else None
        self.jobs = JobReader(spark) if trace else None
        self.ops: list[Op] = []
        self.spans: list[dict] = []
        self.written = {"files_written": 0, "bytes_written": 0, "metadata_bytes_written": 0}
        self.logical_bytes = 0
        self.cache_peak_mb = 0.0

    def op(
        self,
        cls: str,
        name: str,
        build: Callable[[], object],
        action: Callable[[object], object] | None = None,
        check: Callable[[object], bool] | None = None,
        logical_bytes: int = 0,
    ) -> object:
        """Run one op: ``build`` (a catalog call, or a query's plan
        construction), then ``action`` on its result; both are timed.
        ``check`` runs after the clock stops and returns whether the
        result matches the model. A raised exception or a failed check
        counts as a failed op."""
        if cls == READ:
            self.release_scoped()
        before = self.procs.cpu() if self.trace else None
        result, err = None, ""
        steal0 = stolen_s()
        cpu0 = time.process_time()
        t0 = time.time()
        t1 = None
        try:
            result = build()
            t1 = time.time()
            if action is not None:
                result = action(result)
        except Exception:  # noqa: BLE001 - a failed op is a measurement
            err = traceback.format_exc(limit=3)
        t2 = time.time()
        driver_cpu = time.process_time() - cpu0
        stolen = stolen_s() - steal0
        self.procs.sample_workers()
        ok = not err
        if ok and check is not None:
            try:
                ok = bool(check(result))
            except Exception:  # noqa: BLE001
                err = traceback.format_exc(limit=3)
                ok = False
            if not ok and not err:
                err = "result differs from the model"
        op = Op(cls, name, t0, t2, ok, stolen, driver_cpu, err)
        if action is not None and t1 is not None:
            op.build_s, op.action_s = t1 - t0, t2 - t1
        if self.storage is not None:
            for k, v in self.storage.step().items():
                self.written[k] += v
        self.logical_bytes += logical_bytes
        if self.trace:
            self._trace(op, before, t1)
        self.ops.append(op)
        return result if ok else None

    def _trace(self, op: Op, before: dict, t1: float | None) -> None:
        after = self.procs.cpu()
        jobs = self.jobs.drain()
        op_id = len(self.ops)
        span = {"id": f"op{op_id}", "parent": None, "op_id": op_id, "name": op.name, "start": op.start, "end": op.end}
        self.spans.append(span)
        if op.build_s is not None:
            self.spans.append({"id": f"op{op_id}.build", "parent": span["id"], "op_id": op_id, "name": "build", "start": op.start, "end": t1})
            self.spans.append({"id": f"op{op_id}.action", "parent": span["id"], "op_id": op_id, "name": "action", "start": t1, "end": op.end})
        for j in jobs:
            self.spans.append({"id": f"op{op_id}.job{j['id']}", "parent": span["id"], "op_id": op_id, "name": f"job {j['id']}", "start": j["start"], "end": j["end"]})
        in_job = union_length([(j["start"], j["end"]) for j in jobs], op.start, op.end)
        op.trace = {
            "jobs": len(jobs),
            "stages": sum(j["stages"] for j in jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "in_job_s": in_job,
            "outside_job_s": max(0.0, op.wall - in_job),
            "task_s": sum(j["task_s"] for j in jobs),
            "shuffle_read": sum(j["shuffle_read"] for j in jobs),
            "shuffle_write": sum(j["shuffle_write"] for j in jobs),
            "spill": sum(j["spill"] for j in jobs),
            "driver_cpu_s": after["driver"] - before["driver"],
            "jvm_cpu_s": after["jvm"] - before["jvm"],
            "pyworker_cpu_s": max(0.0, after["pyworker"] - before["pyworker"]),
        }
        if op.build_s is not None:
            self.cache_peak_mb = max(self.cache_peak_mb, rdd_storage_mb(self.spark))
