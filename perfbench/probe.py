"""Measurement from outside the program: spans around public calls, the
driver status store's stage counters per span, and /proc probes of the
process tree (driver, JVM, Python workers, node)."""

from __future__ import annotations

import itertools
import json
import os
import signal
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

from py4j.protocol import Py4JError, Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")


def process_start_wall() -> float:
    """Wall-clock time this process was started by the kernel, so
    set-up time includes the interpreter's own start."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / _TICK


def pct(values: List[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not values:
        return float("nan")
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q / 100.0 * len(s) + 0.5)) - 1))]


def median(values: List[float]) -> float:
    return statistics.median(values) if values else float("nan")


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def _proc_table() -> Dict[int, tuple]:
    """pid -> (ppid, comm, cumulative cpu ticks incl. reaped children)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1: raw.rindex(")")]
        f = raw.rsplit(")", 1)[1].split()
        out[int(entry)] = (int(f[1]), comm, int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]))
    return out


def _pss(pid: int) -> int:
    """Proportional set size in bytes: pages shared between processes
    (a forked child before exec, forked Python workers) count once
    across the tree, where summing RSS would count them per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process exited
        pass
    return 0


def _tree(table: Dict[int, tuple], root: int, exclude: set) -> List[int]:
    kids: Dict[int, List[int]] = {}
    for pid, row in table.items():
        kids.setdefault(row[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude or pid not in table:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _kind(comm: str) -> str:
    if comm == "java":
        return "jvm"
    if comm.startswith("node"):
        return "node"
    return "py"


class ProcSampler:
    """Samples the benchmark's process tree every ``interval`` seconds:
    peak proportional memory (total, JVM, the rest) and CPU by kind.
    CPU of processes that exit between samples (node per Arrow batch)
    reaches the tree through their parent's reaped-children counters.
    A sample reads every process's smaps_rollup (about 15 ms for the
    JVM), so the interval is kept coarse."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.exclude: set = set()
        # CPU of excluded children already reaped into this process's
        # children counters
        self.reaped_excluded_s = 0.0
        self.peak = {"total": 0, "jvm": 0, "other": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def cpu(self) -> Dict[str, float]:
        """Current cumulative CPU seconds of the tree, by kind: this
        driver process, the JVM, Python workers, node."""
        table = _proc_table()
        out = {"driver": 0.0, "jvm": 0.0, "py": 0.0, "node": 0.0}
        for pid in _tree(table, os.getpid(), self.exclude):
            kind = "driver" if pid == os.getpid() else _kind(table[pid][1])
            out[kind] += table[pid][2] / _TICK
        out["driver"] -= self.reaped_excluded_s
        return out

    def _sample(self) -> None:
        table = _proc_table()
        tot = jvm = 0
        for pid in _tree(table, os.getpid(), self.exclude):
            pss = _pss(pid)
            tot += pss
            if table[pid][1] == "java":
                jvm += pss
        self.peak["total"] = max(self.peak["total"], tot)
        self.peak["jvm"] = max(self.peak["jvm"], jvm)
        self.peak["other"] = max(self.peak["other"], tot - jvm)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    def descendants(self) -> List[int]:
        return [p for p in _tree(_proc_table(), os.getpid(), set()) if p != os.getpid()]


# ---------------------------------------------------------------------------
# spans and stage counters
# ---------------------------------------------------------------------------

class Tracer:
    """Spans around calls into the program, one stack per thread. When
    enabled, each span gets its own Spark job group, so its stage
    counters can be read back from the driver status store after the
    run. Spans live in memory until ``dump``. A disabled tracer records
    wall times only, which the end-to-end metrics need."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.trace_id = f"{os.getpid()}-{int(time.time() * 1000)}"
        self.spans: List[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, group: bool = True, **attrs):
        t_in = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": stack[-1]["id"] if stack else None,
               "trace": self.trace_id, "group": None, **attrs}
        if self.enabled and group:
            rec["group"] = f"pb-{self.trace_id}-{sid}"
            self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        t0 = time.time()
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            t1 = time.time()
            t_out = time.perf_counter()
            stack.pop()
            rec["start"], rec["end"] = t0, t1
            self.spans.append(rec)
            if self.enabled and group:
                parent = next((s["group"] for s in reversed(stack) if s["group"]), None)
                if parent:
                    self.sc.setJobGroup(parent, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t_out

    def named(self, name: str) -> List[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> Dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        kids: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: Dict[str, float] = {}
        for s in self.spans:
            covered, cur = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"trace_id": self.trace_id, "spans": self.spans,
                       "self_s": self.self_times(), **extra}, fh, indent=1, default=str)


def _opt_ms(opt) -> Optional[float]:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StageCounters:
    """Reads job and stage counters from the driver status store."""

    FIELDS = ("tasks", "run_s", "cpu_s", "input_mb", "output_mb", "shuffle_mb",
              "spill_mb", "input_rows")

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self._stages: Dict[int, Optional[dict]] = {}

    def stage(self, sid: int) -> Optional[dict]:
        if sid not in self._stages:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: evicted or never ran
                self._stages[sid] = None
                return None
            if sd.status().toString() == "SKIPPED":
                self._stages[sid] = None
                return None
            mb = 1024.0 * 1024.0
            self._stages[sid] = {
                "tasks": sd.numTasks(),
                "run_s": sd.executorRunTime() / 1000.0,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "input_mb": sd.inputBytes() / mb,
                "input_rows": sd.inputRecords(),
                "output_mb": sd.outputBytes() / mb,
                "shuffle_mb": (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / mb,
                "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / mb,
            }
        return self._stages[sid]

    def cached_mb(self) -> float:
        """Memory and disk held by cached and checkpointed RDDs now."""
        total = 0
        it = self.store.rddList(True).iterator()
        while it.hasNext():
            r = it.next()
            total += r.memoryUsed() + r.diskUsed()
        return total / (1024.0 * 1024.0)

    def jobs_for_group(self, group: str) -> List[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs_between(self, start: float, end: float, exclude_prefix: str) -> List[int]:
        """Jobs submitted in [start, end] whose job group does not start
        with ``exclude_prefix`` (a streaming query runs every
        micro-batch under one group, its run id)."""
        out = []
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            grp = j.jobGroup()
            if grp.isDefined() and grp.get().startswith(exclude_prefix):
                continue
            t = _opt_ms(j.submissionTime())
            if t is not None and start <= t <= end:
                out.append(j.jobId())
        return sorted(out)

    def summarize(self, job_ids: List[int], start: float) -> dict:
        """Totals over the jobs' stages, plus time from ``start`` to the
        first job's submission (planning before any work runs)."""
        tracker = self.sc.statusTracker()
        tot = {k: 0.0 for k in self.FIELDS}
        stages = scans = scan_tasks = 0
        scan_run = 0.0
        first = None
        for jid in job_ids:
            jd = self.store.job(jid)
            t = _opt_ms(jd.submissionTime())
            if t is not None and (first is None or t < first):
                first = t
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = self.stage(sid)
                if st is None:
                    continue
                stages += 1
                if st["input_rows"] > 0:
                    scans += 1
                    scan_tasks += st["tasks"]
                    scan_run += st["run_s"]
                for k in self.FIELDS:
                    tot[k] += st[k]
        tot.update(jobs=len(job_ids), stages=stages, scan_stages=scans,
                   scan_tasks=scan_tasks, scan_run_s=scan_run,
                   first_job_s=(first - start) if first is not None else float("nan"))
        return tot


def stop_spark_and_wait(spark, sampler: ProcSampler, timeout: float = 30.0) -> None:
    """Stop the session, shut the JVM down and wait until every process
    the benchmark started has exited; kill what outlives ``timeout``."""
    from pyspark import SparkContext

    pids = sampler.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    try:
        gateway.shutdown()
    except Py4JError:  # the JVM is already gone
        pass
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.time() + timeout
    while pids and time.time() < deadline:
        pids = [p for p in pids if _state(p) not in ("Z", "X")]
        if pids:
            time.sleep(0.1)
    for p in pids:
        os.kill(p, signal.SIGKILL)


def _state(pid: int) -> str:
    """Process state letter; X when the process no longer exists."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"
