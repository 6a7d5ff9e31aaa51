"""Spans, timing proxies and engine metrics for the traced benchmark run.

Everything here sits in the benchmark's own files: spans are recorded
around calls into the program's public functions (``build_registry``,
``Runner.run``, ``SnapshotStore``, ``TxnTable``, ``checks.run_checks``,
the stream sinks), never inside the program. Spark's own task metrics
come from its event log, parsed after the session stops.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields, so the
    untraced run pays one context manager per operation and nothing else.

    A span is (name, start, end, parent, pass id); times are epoch seconds
    so they line up with the event log's epoch-millisecond timestamps.
    """

    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.pass_id: str = "setup"
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, job_group: str | None = None):
        if not self.enabled:
            yield
            return
        if job_group is not None:
            self.spark.sparkContext.setJobGroup(f"{self.pass_id}:{job_group}", name)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        if not self.enabled:
            return fn

        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    def pass_spans(self, pass_id: str, name: str) -> list[dict]:
        return [s for s in self.spans if s["pass"] == pass_id and s["name"] == name]

    def total(self, pass_id: str, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.pass_spans(pass_id, name))

    def self_time(self, pass_id: str, name: str) -> float:
        """Duration of ``name`` spans minus the time their direct children
        cover."""
        out = 0.0
        for i, s in enumerate(self.spans):
            if s["pass"] != pass_id or s["name"] != name:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
            out += (s["end"] - s["start"]) - kids
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class TimedProxy:
    """Duck-typed stand-in for a storage object: the listed methods are
    recorded as spans named ``<prefix>.<method>``; everything else passes
    straight through."""

    def __init__(self, inner, tracer: Tracer, prefix: str, methods: dict[str, str]) -> None:
        self._inner = inner
        self._tracer = tracer
        self._prefix = prefix
        self._methods = methods  # method name -> span suffix

    def __getattr__(self, name: str):
        attr = getattr(self._inner, name)
        suffix = self._methods.get(name)
        if suffix is None or not callable(attr):
            return attr
        return self._tracer.wrap(f"{self._prefix}.{suffix}", attr)


# TxnTable methods that land a commit, and those that plan a read.
TXN_COMMIT_METHODS = ("append_idempotent", "merge", "delete_where", "compact")
TXN_READ_METHODS = ("read", "read_changes")


def snapshot_store_proxy(store, tracer: Tracer):
    return TimedProxy(
        store, tracer, "sources.snapshot", {"write": "write", "read_latest": "read_latest"}
    )


def txn_table_proxy(table, tracer: Tracer):
    methods = {m: "commit" for m in TXN_COMMIT_METHODS}
    methods.update({m: "read" for m in TXN_READ_METHODS})
    return TimedProxy(table, tracer, "sources.txn", methods)


def dir_mb(path: str) -> float:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total / 2**20


# ---- host --------------------------------------------------------------


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed reading taken
    before each pass. It involves no program code, so when it moves
    between runs the host moved."""
    t = time.perf_counter()
    acc = 0
    for i in range(200_000):
        acc += i * i % 7
    return time.perf_counter() - t


def host_steal_s() -> float:
    """CPU-seconds the hypervisor has taken from this machine since boot,
    summed over CPUs (``steal`` in /proc/stat). Its rise during a pass is
    host contention the program did not cause."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class PssSampler:
    """Samples the summed PSS of this process and all its descendants
    (the Spark JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="pss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = sum(_pss_kb(p) for p in _descendants(os.getpid()))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def jvm_gc_seconds(spark) -> float:
    """Cumulative GC time of the driver JVM (local mode: the only JVM)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# ---- Spark event log ---------------------------------------------------


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def engine_metrics(event_log_dir: str, windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Per-pass Spark metrics from the (uncompressed, non-rolling) event
    log. Jobs, stages and tasks belong to the pass whose wall-clock window
    holds their submission or launch time: one client runs passes back to
    back, and stream micro-batch jobs carry the stream's job group, not
    the benchmark's."""
    per = {
        p: {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "_jobs": [],
        }
        for p in windows
    }

    def owner(ms: float) -> str | None:
        t = ms / 1000.0
        for p, (a, b) in windows.items():
            if a <= t <= b:
                return p
        return None

    job_start: dict[int, float] = {}
    logs = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)]
    for path in logs:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                elif kind == "SparkListenerJobEnd":
                    start = job_start.get(ev["Job ID"])
                    p = owner(start) if start is not None else None
                    if p is not None:
                        per[p]["jobs"] += 1
                        per[p]["_jobs"].append((start / 1000.0, ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageSubmitted":
                    p = owner(ev["Stage Info"].get("Submission Time", 0))
                    if p is not None:
                        per[p]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    p = owner(ev["Task Info"]["Launch Time"])
                    m = ev.get("Task Metrics")
                    if p is None or not m:
                        continue
                    d = per[p]
                    d["tasks"] += 1
                    d["executor_run_s"] += m["Executor Run Time"] / 1e3
                    d["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                    sr = m["Shuffle Read Metrics"]
                    d["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / 2**20
                    d["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                    d["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 2**20
    for p, (a, b) in windows.items():
        jobs = [(max(s, a), min(e, b)) for s, e in per[p].pop("_jobs")]
        per[p]["driver_only_s"] = (b - a) - _union_seconds([j for j in jobs if j[1] > j[0]])
    return per

