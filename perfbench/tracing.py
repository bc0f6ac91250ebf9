"""Spans, process-tree RSS sampling and Spark event-log attribution.

Spans are recorded on every run (the end-to-end metrics are computed from
them); the Spark-side attribution (job groups, event log, streaming
listener) is switched on only for traced runs, so untraced runs pay for
nothing but two clock reads and a list append per span.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span log.  A span is (id, name, start, end, parent, attrs);
    times are epoch seconds so they line up with the Spark event log's
    epoch-millisecond stamps.  With ``spark_groups`` on, every span sets
    its id as the Spark job group, so each Spark job records which layer
    call launched it."""

    def __init__(self, spark_groups: bool = False):
        self.spans: list[dict] = []
        self.spark_groups = spark_groups
        self.sc = None
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = f"pb{len(self.spans)}"
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.spark_groups and self.sc is not None:
            self.sc.setJobGroup(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.spark_groups and self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1], "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def add(self, name: str, start: float, end: float, parent: str | None, **attrs) -> dict:
        """Record a span measured elsewhere (e.g. a batch delimited by hook
        calls)."""
        rec = {"id": f"pb{len(self.spans)}", "name": name, "parent": parent,
               "start": start, "end": end, "attrs": attrs}
        self.spans.append(rec)
        return rec

    @staticmethod
    def now() -> float:
        return time.time()

    def current(self) -> str | None:
        return self._stack[-1] if self._stack else None

    def under(self, name: str, root: str) -> list[dict]:
        """Spans called ``name`` whose outermost ancestor is called ``root``."""
        by_id = {s["id"]: s for s in self.spans}

        def top(s):
            while s["parent"] is not None:
                s = by_id[s["parent"]]
            return s["name"]

        return [s for s in self.spans if s["name"] == name and top(s) == root]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, ppid) of a live process; None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            # state and ppid follow the parenthesised command name
            state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
    except OSError:
        return None
    return state, int(ppid)


def descendants(root: int) -> set[int]:
    """Pids of every live process below ``root``."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            parent[int(name)] = st[1]
    tree, grew = {root}, True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree - {root}


def wait_gone(pids: set[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` runs any more (exited or a zombie)."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if all((st := _stat(p)) is None or st[0] == "Z" for p in pids):
            return
        time.sleep(0.05)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from ``/proc``.  Each
    process contributes its proportional set size, so pages shared between
    processes count once: a forked Python worker, or a child between fork
    and exec, would otherwise add its parent's whole footprint again."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_at = 0.0
        self._last = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        total = 0
        for pid in descendants(os.getpid()) | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:")) * 1024
            except (OSError, StopIteration):
                continue
        return total

    def sample(self) -> None:
        """The peak is the highest level held over two consecutive
        samples.  A child the JVM spawns shares the JVM's address space
        until it execs, and a sample taken in that instant counts the JVM
        twice (one run read 5.8 GB against 3.4 GB in every other)."""
        rss = self._tree_rss()
        held = min(rss, self._last) if self._last is not None else 0
        self._last = rss
        if held > self.peak_bytes:
            self.peak_bytes, self.peak_at = held, time.time()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()


class StreamProgress:
    """Collects ``StreamingQueryProgress.durationMs`` per micro-batch."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    progress.append({"batch": p.batchId, "duration_ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()


# -- event log --------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task metrics of the one application whose event log
    sits in ``log_dir`` (uncompressed JSON lines)."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs, stages, tasks = {}, {}, []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "stages": ev.get("Stage IDs", []),
                    "group": props.get("spark.jobGroup.id"),
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is None:
                    continue
                stages[info["Stage ID"]] = {
                    "start": info["Submission Time"] / 1000.0,
                    "end": info["Completion Time"] / 1000.0,
                    "n_tasks": info["Number of Tasks"],
                }
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                inp = m.get("Input Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "run_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "input_bytes": inp.get("Bytes Read", 0),
                    "input_records": inp.get("Records Read", 0),
                })
    stage_job = {}
    for jid, j in jobs.items():
        for sid in j["stages"]:
            stage_job.setdefault(sid, jid)
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    for sid, s in stages.items():
        s["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Attribution:
    """Maps Spark jobs onto benchmark spans.  A job belongs to the span
    whose id it carries as job group; jobs launched on threads the
    benchmark does not control (the streaming query's micro-batches carry
    the query's own group) fall back to the innermost span containing
    their submission time.  Batch spans inside one ingest call are
    resolved by submission time as well, since one call runs many
    batches."""

    def __init__(self, log: dict, spans: list[dict]):
        self.log = log
        self.by_id = {s["id"]: s for s in spans}
        self.spans = spans

    def jobs_in(self, span: dict) -> list[int]:
        ids = self._descendants(span["id"])
        out = []
        for jid, j in self.log["jobs"].items():
            if j["group"] in ids:
                out.append(jid)
            elif j["group"] not in self.by_id and span["start"] <= j["submit"] <= span["end"]:
                out.append(jid)
        return out

    def _descendants(self, sid: str) -> set[str]:
        out = {sid}
        for s in self.spans:
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def window_jobs(self, start: float, end: float, within: dict) -> list[int]:
        """Jobs of ``within`` submitted in [start, end) — one batch of a
        multi-batch ingest call."""
        return [j for j in self.jobs_in(within) if start <= self.log["jobs"][j]["submit"] < end]

    def stages_of(self, jobs: list[int]) -> list[dict]:
        js = set(jobs)
        return [s for s in self.log["stages"].values() if s["job"] in js]

    def tasks_of(self, jobs: list[int]) -> list[dict]:
        js = set(jobs)
        return [t for t in self.log["tasks"] if t["job"] in js]

    def busy_s(self, jobs: list[int], lo: float, hi: float) -> float:
        return union_length([
            (max(s["start"], lo), min(s["end"], hi))
            for s in self.stages_of(jobs) if s["end"] > lo and s["start"] < hi
        ])

    def reduce_skew(self, jobs: list[int]) -> float | None:
        """max/median task time in the widest stage that read shuffle data."""
        tasks = self.tasks_of(jobs)
        by_stage: dict[int, list[dict]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t)
        reducers = [ts for ts in by_stage.values() if any(t["shuffle_read"] > 0 for t in ts)]
        if not reducers:
            return None
        widest = max(reducers, key=len)
        med = statistics.median(t["run_s"] for t in widest)
        return max(t["run_s"] for t in widest) / med if med > 0 else None
