"""Outside-in measurement: spans, Spark job counters, directory listings
and peak memory, all taken from the benchmark's side of the engine's
public functions (nothing inside the package is edited or patched)."""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out at
    exit.  A disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by its child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def median_self(self, name: str) -> float:
        st = self.self_times()
        vals = [st[s["id"]] for s in self.spans if s["name"] == name]
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": st[s["id"]]}) + "\n")


class JobCounter:
    """Spark jobs/stages/tasks per call, via ``setJobGroup`` before the
    call and ``statusTracker`` after the run (the status store is fed
    asynchronously, so counts are read once all work has finished)."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.groups: dict[str, list[str]] = {}
        self._ids = itertools.count()

    @contextlib.contextmanager
    def group(self, kind: str):
        if not self.enabled:
            yield
            return
        gid = f"perfbench-{kind}-{next(self._ids)}"
        self.groups.setdefault(kind, []).append(gid)
        self.sc.setJobGroup(gid, kind)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")

    def add_group(self, kind: str, gid: str) -> None:
        """Count jobs of a group Spark set itself (a streaming query's run id)."""
        if self.enabled:
            self.groups.setdefault(kind, []).append(gid)

    def counts(self, gid: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(gid):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped stage: its shuffle output was reused
                stages += 1
                tasks += s.numCompletedTasks + s.numFailedTasks
                failed += s.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def summary(self, kind: str) -> dict[str, float]:
        """Median jobs/stages/tasks per call of ``kind`` and total failed tasks."""
        time.sleep(0.5)  # let the listener bus drain
        per = [self.counts(g) for g in self.groups.get(kind, [])]
        if not per:
            return {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        out = {k: statistics.median(p[k] for p in per) for k in ("jobs", "stages", "tasks")}
        out["failed_tasks"] = sum(p["failed_tasks"] for p in per)
        return out


def list_files(root: str) -> dict[str, int]:
    """Relative path -> size of every data file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def written_between(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    """Files, bytes and buckets a merge wrote: data files present after it
    that were not there before (every rewrite gets a new file name)."""
    new = {p: n for p, n in after.items() if p not in before}
    return {
        "files": len(new),
        "bytes": sum(new.values()),
        "buckets": len({os.path.dirname(p) for p in new}),
    }


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set size of this Python driver plus its JVM, from
    /proc (VmHWM, the high-water mark since each process started)."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def tail(values: list[float]) -> float:
    """Highest nearest-rank percentile with at least ten samples above it;
    a run with fewer than 20 samples has no such percentile above the
    median, so its maximum is reported instead."""
    s = sorted(values)
    if len(s) >= 20:
        return s[len(s) - 11]
    return s[-1]
