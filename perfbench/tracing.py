"""Measurement taken from outside the library.

- ``Tracer``: spans around public library calls (traced runs only), with
  each span's id set as a thread-local Spark property so the event log
  can attribute jobs to the call that ran them.
- ``parse_event_log`` / ``op_layers``: job, stage and task figures per
  operation, read from Spark's own event log.
- ``ProcTree``: peak RSS and CPU time of the whole process tree (Python
  driver, JVM, Python workers), sampled from ``/proc``.
- ``box_probe``: a fixed pure-Python loop, timed once per run, so a slow
  box shows in the run record.  It adjusts nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time

SPAN_PROP = "perfbench.span"
BATCH_PROP = "streaming.sql.batchId"


def median(values):
    return statistics.median(values) if values else 0.0


def p90(values):
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


class Tracer:
    """In-memory spans: ``{id, name, parent, t0, t1}`` with epoch-second
    times (the event log uses the same clock, in ms)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
        }
        stack.append(rec)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, str(stack[-1]["id"]) if stack else None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, cls, method: str, name: str) -> None:
        """Record a span around every call of ``cls.method``."""
        original = getattr(cls, method)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(cls, method, traced)
        self._patched.append((cls, method, original))

    def unwrap(self) -> None:
        for cls, method, original in reversed(self._patched):
            setattr(cls, method, original)
        self._patched.clear()

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span: dict, children: dict[int, list[dict]], kinds) -> float:
    """Span duration minus the time its descendants of ``kinds`` cover."""
    found, todo = [], list(children.get(span["id"], []))
    while todo:
        c = todo.pop()
        if c["name"] in kinds:
            found.append((c["t0"], c["t1"]))
        else:
            todo.extend(children.get(c["id"], []))
    return span["t1"] - span["t0"] - covered(found, span["t0"], span["t1"])


def outermost(spans: list[dict], kinds) -> list[dict]:
    """Spans of ``kinds`` that have no ancestor of ``kinds``."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] not in kinds:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] not in kinds:
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out


def parse_event_log(directory: str) -> tuple[dict, dict, int]:
    """``(jobs, stages, heap_peak)`` from every event-log file in
    ``directory``.  Jobs of every job group are kept, streaming
    micro-batch jobs included.  A stage counts only if it ran: stages a
    job lists but never submits (their shuffle output was reused) are
    skipped work.  ``heap_peak`` is the largest used JVM heap, in bytes,
    that Spark's executor-metrics poller saw during a task or stage."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    heap_peak = 0
    paths = [os.path.join(d, n) for d, _, names in os.walk(directory) for n in names]
    for path in sorted(paths):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                for key in ("Task Executor Metrics", "Executor Metrics"):
                    heap_peak = max(heap_peak, (ev.get(key) or {}).get("JVMHeapMemory", 0))
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "t0": ev["Submission Time"] / 1000.0,
                        "t1": None,
                        "stage_ids": list(ev["Stage IDs"]),
                        "props": ev.get("Properties") or {},
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stages[key] = {"tasks": []}
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    m = ev.get("Task Metrics") or {}
                    ti = ev["Task Info"]
                    sw = m.get("Shuffle Write Metrics") or {}
                    out = m.get("Output Metrics") or {}
                    stages.setdefault(key, {"tasks": []})["tasks"].append(
                        {
                            "run_s": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                            "spill_bytes": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "output_bytes": out.get("Bytes Written", 0),
                            "output_records": out.get("Records Written", 0),
                        }
                    )
    return jobs, stages, heap_peak


def job_figures(job_ids, jobs: dict, stages: dict) -> dict:
    """Summed figures of a set of jobs; only executed stages count."""
    fig = {
        "jobs": 0, "stages": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_bytes": 0, "spill_bytes": 0, "output_bytes": 0,
        "output_records": 0, "skew": 1.0,
    }
    for jid in job_ids:
        fig["jobs"] += 1
        for sid in jobs[jid]["stage_ids"]:
            ran = [v for (s, _), v in stages.items() if s == sid]
            for st in ran:
                tasks = st["tasks"]
                fig["stages"] += 1
                fig["tasks"] += len(tasks)
                for t in tasks:
                    for k in ("cpu_s", "gc_s", "shuffle_bytes", "spill_bytes",
                              "output_bytes", "output_records"):
                        fig[k] += t[k]
                if len(tasks) >= 2:
                    times = [t["run_s"] for t in tasks]
                    mid = statistics.median(times)
                    if mid > 0:
                        fig["skew"] = max(fig["skew"], max(times) / mid)
    return fig


def op_layers(ops: list[dict], jobs: dict, stages: dict) -> list[dict]:
    """Per operation: its job figures and the wall time during which no
    job of the operation was running (driver-only time).  Each op is
    ``{t0, t1, span_ids}`` or ``{t0, t1, batch_id}``."""
    by_span: dict[str, list[int]] = {}
    by_batch: dict[str, list[int]] = {}
    for jid, j in jobs.items():
        if j["props"].get(SPAN_PROP) is not None:
            by_span.setdefault(j["props"][SPAN_PROP], []).append(jid)
        elif j["props"].get(BATCH_PROP) is not None:
            by_batch.setdefault(j["props"][BATCH_PROP], []).append(jid)
    out = []
    for op in ops:
        if "batch_id" in op:
            ids = by_batch.get(str(op["batch_id"]), [])
            # jobs launched from the foreachBatch callback may also carry
            # a span id; the batch property is then the fallback
            ids = ids + [
                jid for sid in op.get("span_ids", ()) for jid in by_span.get(str(sid), [])
            ]
        else:
            ids = [jid for sid in op["span_ids"] for jid in by_span.get(str(sid), [])]
        ids = sorted(set(ids))
        fig = job_figures(ids, jobs, stages)
        busy = covered(
            [(jobs[j]["t0"], jobs[j]["t1"] or op["t1"]) for j in ids], op["t0"], op["t1"]
        )
        fig["driver_only_s"] = max(0.0, op["t1"] - op["t0"] - busy)
        out.append(fig)
    return out


def _tree(root: int) -> list[tuple[int, int | None]]:
    """``(pid, parent pid)`` of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [(root, None)]
    while todo:
        pid, parent = todo.pop()
        out.append((pid, parent))
        todo.extend((c, pid) for c in children.get(pid, []))
    return out


def _cmdline(pid: int) -> bytes | None:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return None


class ProcTree:
    """Samples RSS of this process and all its descendants every
    ``interval`` seconds on a background thread; ``cpu_s()`` reads the
    tree's user+system CPU time (reaped children included)."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-rss", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        """Add up the tree's RSS.  A child with its parent's command line
        is a fork not yet exec'd (the JVM spawns helper processes) or a
        forked Python worker: its resident pages are its parent's, so it
        is not counted again."""
        total = 0
        for pid, parent in _tree(os.getpid()):
            if parent is not None and _cmdline(pid) == _cmdline(parent):
                continue
            try:
                with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def cpu_s(self) -> float:
        ticks = 0
        for pid, _ in _tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in f[11:15])
        return ticks / self._tick


def box_probe() -> tuple[float, float]:
    """Seconds for a fixed pure-Python loop, and the 1-minute loadavg."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    probe = time.perf_counter() - t0
    with open("/proc/loadavg", encoding="ascii") as fh:
        load = float(fh.read().split()[0])
    return probe, load
