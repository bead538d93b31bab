"""Measurement plumbing: host noise, process-tree CPU and RSS, JVM heap, and
the traced run's spans with their Spark status-store counts.

Everything is read from ``/proc`` or through py4j; nothing here starts a
thread or a process.
"""

from __future__ import annotations

import contextlib
import gc
import os
import platform
import statistics
import time

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state is [0])."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None


def alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    st = _stat_fields(pid)
    return st is not None and st[0] != "Z"


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError):
        return ""


def process_tree() -> list[int]:
    """This process and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat_fields(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(python_workers_only: bool = False) -> float:
    """CPU seconds of a process tree: user + system of every live process
    plus the children each has reaped (cutime/cstime), so short-lived
    pyspark workers are counted once they exit. ``python_workers_only``
    keeps the pyspark daemon and the workers it forked."""
    total = 0
    for pid in process_tree():
        if python_workers_only and "pyspark.daemon" not in _cmdline(pid):
            continue
        st = _stat_fields(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _HZ


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) of the tree's live processes, summed per kind:
    this driver, the JVM, and the pyspark daemon with its workers."""
    out = {"driver": 0.0, "jvm": 0.0, "pyspark_workers": 0.0}
    for pid in process_tree():
        cmd = _cmdline(pid)
        kind = (
            "driver" if pid == os.getpid()
            else "pyspark_workers" if "pyspark.daemon" in cmd
            else "jvm"
        )
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[kind] += int(line.split()[1]) / 1024
                        break
        except (FileNotFoundError, ProcessLookupError):
            pass
    return out


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _HZ


class CpuSteal:
    """Share of all CPU time the hypervisor stole between two reads of
    /proc/stat — the host noise that wall times carry."""

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)

    def __init__(self) -> None:
        self.steal0, self.total0 = self._read()

    def share(self) -> float:
        steal, total = self._read()
        return (steal - self.steal0) / max(1, total - self.total0)


def host_record(spark) -> dict:
    jvm = spark.sparkContext._jvm
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def live_heap_mb(spark, rounds: int = 6) -> float:
    """Least JVM heap in use over several full collections. Python's
    collector runs first so that dropped DataFrames release their JVM
    objects, and the pauses let Spark's ContextCleaner drop the blocks
    those had cached."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(rounds):
        gc.collect()
        jvm.java.lang.System.gc()
        used.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        time.sleep(0.3)
    return min(used)


def heap_committed_mb(spark) -> float:
    """JVM heap the collector has committed (it bounds the JVM's RSS)."""
    return spark.sparkContext._jvm.java.lang.Runtime.getRuntime().totalMemory() / 2**20


class Tracer:
    """Spans around public engine calls, each in its own Spark job group.

    ``span(name)`` measures wall time; on exit it drains the listener bus
    (outside the timed interval) and sums, over the group's jobs, the
    status store's per-stage counters. Skipped stages (shuffle reuse) add
    nothing. Spans are kept in memory per batch and summarised at the end.
    """

    COUNTERS = (
        "jobs", "stages", "tasks", "exec_cpu_s", "input_bytes",
        "shuffle_write_bytes", "output_bytes", "output_records",
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.batches: list[dict] = []
        self._seq = 0

    def begin_batch(self) -> None:
        self.batches.append({"_start": time.perf_counter(), "spans": {}})

    def end_batch(self) -> None:
        b = self.batches[-1]
        b["wall_s"] = time.perf_counter() - b.pop("_start")

    def span(self, name: str, py_workers: bool = False):
        return _Span(self, name, py_workers)

    def _harvest(self, group: str) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(self.COUNTERS, 0)
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            job = self.store.job(job_id)
            for sid in str(job.stageIds().mkString(",")).split(","):
                st = self.store.lastStageAttempt(int(sid))
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["output_bytes"] += st.outputBytes()
                out["output_records"] += st.outputRecords()
        return out

    def layer(self, name: str, key: str) -> list[float]:
        """One span counter across batches (0 where the span did not run)."""
        return [b["spans"].get(name, {}).get(key, 0) for b in self.batches]

    def coverage(self) -> list[float]:
        """Per batch: share of its wall time that its spans cover (the read
        that follows a batch is timed apart from it)."""
        return [
            sum(s["s"] for n, s in b["spans"].items() if n != "read") / b["wall_s"]
            for b in self.batches
        ]


def span(tracer: Tracer | None, name: str, py_workers: bool = False):
    """``tracer.span(...)``, or no span at all in an untraced run."""
    return contextlib.nullcontext() if tracer is None else tracer.span(name, py_workers)


class _Span:
    def __init__(self, tracer: Tracer, name: str, py_workers: bool) -> None:
        self.t, self.name, self.py_workers = tracer, name, py_workers

    def __enter__(self):
        t = self.t
        t._seq += 1
        self.group = f"perfbench-{t._seq}-{self.name}"
        t.sc.setJobGroup(self.group, self.name)
        self.py0 = tree_cpu_s(python_workers_only=True) if self.py_workers else 0.0
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        elapsed = time.perf_counter() - self.t0
        t = self.t
        rec = {"s": elapsed}
        if self.py_workers:
            rec["py_cpu_s"] = tree_cpu_s(python_workers_only=True) - self.py0
        t.sc.setLocalProperty("spark.jobGroup.id", None)
        if exc[0] is None:
            rec.update(t._harvest(self.group))
        t.batches[-1]["spans"][self.name] = rec


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
