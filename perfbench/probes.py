"""Observation from outside the program: memory, Spark jobs, streaming
progress and spans.  Each probe is an object the workload creates and
stops; none changes what the engine does."""

from __future__ import annotations

import contextlib
import json
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


def _rss_kb(pid: int | str) -> tuple[int, int]:
    """Resident memory of ``pid`` in kB: all of it, and its anonymous part
    (heap and other allocations, without mapped files)."""
    total = anon = 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    total = int(line.split()[1])
                elif line.startswith("RssAnon:"):
                    anon = int(line.split()[1])
    except OSError:
        pass
    return total, anon


class RssSampler:
    """Peak resident memory of this Python process plus its JVM child,
    sampled from /proc every ``period`` seconds."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.jvm_pid: int | None = None
        self.peak_kb = 0
        self.peak_anon_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        pids = ["self"] + ([self.jvm_pid] if self.jvm_pid else [])
        total, anon = (sum(x) for x in zip(*map(_rss_kb, pids)))
        self.peak_kb = max(self.peak_kb, total)
        self.peak_anon_kb = max(self.peak_anon_kb, anon)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


class JobSampler:
    """Every Spark job of the run, read from the driver's status store.

    The store keeps only the newest 1000 jobs, so a thread polls it while
    the run goes on.  Each job is recorded when first seen and read again
    until it is no longer running: its group, submission time (epoch
    seconds), and the stages and tasks it ran (skipped ones excluded)."""

    def __init__(self, spark, period: float = 0.25):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.period = period
        self.jobs: dict[int, dict] = {}
        self._next = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "JobSampler":
        self._thread.start()
        return self

    def _read(self, jid: int) -> dict | None:
        try:
            j = self.store.job(jid)
        except Py4JJavaError:  # no such job (yet)
            return None
        sub = j.submissionTime()
        group = j.jobGroup()
        return {
            "id": jid,
            "group": group.get() if group.isDefined() else None,
            "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "status": j.status().toString(),
            "stages": j.stageIds().size() - j.numSkippedStages(),
            "tasks": j.numTasks() - j.numSkippedTasks(),
        }

    def poll(self) -> None:
        with self._lock:
            pending = [k for k, v in self.jobs.items() if v["status"] == "RUNNING"]
            for jid in pending:
                info = self._read(jid)
                if info is not None:
                    self.jobs[jid] = info
            while True:
                info = self._read(self._next)
                if info is None:
                    break
                self.jobs[self._next] = info
                self._next += 1

    def _run(self) -> None:
        while not self._stop.is_set():
            self.poll()
            self._stop.wait(self.period)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.poll()

    def between(self, start: float, end: float) -> list[dict]:
        with self._lock:
            return [
                j
                for j in self.jobs.values()
                if j["submitted"] is not None and start <= j["submitted"] <= end
            ]

    def in_group(self, group: str) -> list[dict]:
        with self._lock:
            return [j for j in self.jobs.values() if j["group"] == group]


class ProgressListener(StreamingQueryListener):
    """Collects every streaming query's progress events as plain dicts."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self.lock:
            self.progress.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def for_run(self, run_id: str) -> list[dict]:
        with self.lock:
            return [p for p in self.progress if p.get("runId") == run_id]

    def snapshot(self) -> list[dict]:
        with self.lock:
            return list(self.progress)


def wait_for(pred, timeout: float) -> bool:
    """Poll ``pred`` until it holds or ``timeout`` seconds pass."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(0.05)
    return pred()


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent and the
    trace (request) they belong to.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def add(self, name: str, start: float, end: float | None,
            parent: int | None = None, trace: str | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "trace": trace, **attrs}
            )
            return sid

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        """Time the block as a child of the innermost open span on this
        thread."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if parent is not None and trace is None:
            trace = self.spans[parent]["trace"]
        sid = self.add(name, time.time(), None, parent, trace, **attrs)
        stack.append(sid)
        try:
            yield sid
        except BaseException as exc:
            self.spans[sid]["error"] = type(exc).__name__
            raise
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` with a timed wrapper; returns the undo."""
        original = getattr(module, attr)
        if not self.enabled:
            return lambda: None

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, original)

    def adopt(self, child_names: set[str], parent_names: set[str]) -> None:
        """Give each parentless span named in ``child_names`` the shortest
        ``parent_names`` span that contains it in time.  Spans opened on
        threads the benchmark does not own, such as foreachBatch callbacks,
        are linked this way."""
        parents = [s for s in self.spans if s["name"] in parent_names and s["end"]]
        for s in self.spans:
            if s["parent"] is not None or s["name"] not in child_names or not s["end"]:
                continue
            inside = [p for p in parents if p["start"] <= s["start"] and s["end"] <= p["end"]]
            if inside:
                p = min(inside, key=lambda p: p["end"] - p["start"])
                s["parent"], s["trace"] = p["id"], s["trace"] or p["trace"]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"]:
                own = (s["end"] - s["start"]) - covered(kids.get(s["id"], []))
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, 0.0, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
