"""Spans, Spark job attribution and process memory for the benchmark.

A span times one call into a layer of the library. Spark jobs started
inside a span carry the span's job group, so the status tracker and the
session's REST API attribute jobs, tasks, shuffle, spill and executor run
time to it. Spans stay in memory and are written out once, at exit.

The arithmetic (``layer_metrics``, ``gap_s``) is pure and works on
plain dicts, so it is testable on hand-made spans.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from urllib.parse import urlparse


# ----------------------------------------------------------- pure arithmetic


def attribute_stages(jobs: list[dict]) -> dict[int, str]:
    """Stage id -> job group of the first job that lists it. A later job
    that reuses a stage's shuffle output lists it again as skipped; the
    stage's work belongs to the job that ran it."""
    owner: dict[int, tuple[int, str]] = {}
    for job in jobs:
        for sid in job["stage_ids"]:
            if sid not in owner or job["job_id"] < owner[sid][0]:
                owner[sid] = (job["job_id"], job["group"])
    return {sid: grp for sid, (_, grp) in owner.items()}


def layer_metrics(spans: list[dict], jobs: list[dict], stages: dict[int, dict], cores: int) -> dict:
    """Per span name: wall time, jobs, tasks, failed tasks, shuffle write,
    spill and core utilization, summed over every span of that name.

    ``spans``: dicts with ``name``, ``start``, ``end`` and ``group`` (the
    span's job group). ``jobs``: dicts with ``job_id``, ``group``,
    ``stage_ids``. ``stages``: stage id -> ``tasks``, ``failed_tasks``,
    ``run_time_s``, ``shuffle_write_bytes``, ``spill_bytes``.
    ``core_util`` is executor run time over (span wall x cores)."""
    owner = attribute_stages(jobs)
    by_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for job in jobs:
        by_group[job["group"]]["jobs"] += 1
    for sid, grp in owner.items():
        st = stages.get(sid)
        if st is None:
            continue
        acc = by_group[grp]
        acc["tasks"] += st["tasks"]
        acc["failed_tasks"] += st["failed_tasks"]
        acc["run_time_s"] += st["run_time_s"]
        acc["shuffle_write_bytes"] += st["shuffle_write_bytes"]
        acc["spill_bytes"] += st["spill_bytes"]
    out: dict[str, dict] = {}
    for sp in spans:
        m = out.setdefault(sp["name"], defaultdict(float))
        m["wall_s"] += sp["end"] - sp["start"]
        for k, v in by_group.get(sp["group"], {}).items():
            m[k] += v
    for m in out.values():
        wall = m["wall_s"]
        m["core_util"] = m.pop("run_time_s", 0.0) / (wall * cores) if wall > 0 else 0.0
        m["shuffle_write_mb"] = m.pop("shuffle_write_bytes", 0.0) / 1e6
        m["spill_mb"] = m.pop("spill_bytes", 0.0) / 1e6
        for k in ("jobs", "tasks", "failed_tasks"):
            m[k] = int(m.get(k, 0))
    return {k: dict(v) for k, v in out.items()}


def engine_metrics(layers: list[dict], wall: float, cores: int) -> dict:
    """Whole-pass totals over the layers' metrics: the engine's jobs,
    tasks, failed tasks, shuffle and spill, and its core utilization
    over the pass's ``wall`` time."""
    out = {k: sum(m.get(k, 0) for m in layers)
           for k in ("jobs", "tasks", "failed_tasks", "shuffle_write_mb", "spill_mb")}
    run_time = sum(m.get("core_util", 0.0) * m.get("wall_s", 0.0) * cores for m in layers)
    out["wall_s"] = wall
    out["core_util"] = run_time / (wall * cores) if wall > 0 else 0.0
    return out


def gap_s(composite_wall: float, stage_walls: list[float]) -> float:
    """Composite wall time minus the stages materialized one at a time:
    positive when the composite repeats work the staged run did once."""
    return composite_wall - sum(stage_walls)


# ------------------------------------------------------------------ tracer


class Tracer:
    """Records spans for one traced pass over one Spark session."""

    def __init__(self, spark, run_id: str, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.cores = cores
        self.spans: list[dict] = []
        self.persisted_peak_mb = 0.0
        self._n = 0
        self._stack: list[str] = []
        port = urlparse(self.sc.uiWebUrl).port
        self._api = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        """Time the enclosed calls as span ``name``; yields a dict for the
        span's extra metrics. With ``jobs`` the span's Spark jobs carry a
        job group of their own."""
        self._n += 1
        group = f"{name}#{self._n}" if jobs else None
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "group": group, "extra": {}}
        if group:
            self.sc.setJobGroup(group, name)
        self._stack.append(name)
        rec["start"] = time.perf_counter()
        try:
            yield rec["extra"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    @contextmanager
    def aux(self):
        """Jobs the benchmark runs for its own counts, outside any span."""
        self.sc.setJobGroup("bench.aux", "bench.aux")
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as resp:
            return json.load(resp)

    def sample_storage(self) -> None:
        """Track the peak of memory + disk held by persisted RDDs."""
        rdds = self._get("/storage/rdd")
        mb = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / 1e6
        self.persisted_peak_mb = max(self.persisted_peak_mb, mb)

    def _sync(self, timeout_s: float = 30.0) -> None:
        """Wait until the status store has seen every job so far: run a
        sentinel job and wait for its end event, which the listener bus
        delivers after every earlier event."""
        tracker = self.sc.statusTracker()
        seen = set(tracker.getJobIdsForGroup("bench.sync"))
        self.sc.setJobGroup("bench.sync", "bench.sync")
        self.spark.range(1).count()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            for jid in set(tracker.getJobIdsForGroup("bench.sync")) - seen:
                info = tracker.getJobInfo(jid)
                if info is not None and info.status in ("SUCCEEDED", "FAILED"):
                    return
            time.sleep(0.05)
        raise TimeoutError("Spark status store did not catch up")

    def collect(self) -> dict:
        """Per-layer metrics of every span recorded so far."""
        self._sync()
        tracker = self.sc.statusTracker()
        jobs = []
        for sp in self.spans:
            if not sp["group"]:
                continue
            for jid in tracker.getJobIdsForGroup(sp["group"]):
                info = tracker.getJobInfo(jid)
                jobs.append({"job_id": jid, "group": sp["group"],
                             "stage_ids": list(info.stageIds) if info else []})
        stages: dict[int, dict] = {}
        for st in self._get("/stages"):
            if st["status"] not in ("COMPLETE", "FAILED"):
                continue
            acc = stages.setdefault(st["stageId"], defaultdict(float))
            acc["tasks"] += st["numCompleteTasks"]
            acc["failed_tasks"] += st["numFailedTasks"]
            acc["run_time_s"] += st["executorRunTime"] / 1000.0
            acc["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            acc["spill_bytes"] += st["diskBytesSpilled"]
        return layer_metrics(self.spans, jobs, stages, self.cores)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1, default=float)


# ------------------------------------------------------------ process memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def pss_mb(pid: int) -> float:
    """Proportional set size (``Pss`` in ``smaps_rollup``) of one process,
    in MB: its resident memory with every shared page split among the
    processes sharing it; 0 if the process is gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024 / 1e6
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Polls the summed proportional set size of a process and its
    descendants (the driver JVM and its Python workers) and keeps the
    largest sum seen. Python workers are forked from one daemon and share
    its pages, and their own peaks need not coincide, so a sum of each
    process's ``VmHWM`` counts shared pages once per worker and adds
    peaks that never met; the sampled sum counts what is resident at
    one moment, each page once."""

    def __init__(self, root_pid: int, period_s: float = 0.25):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total = sum(pss_mb(p) for p in process_tree(self.root_pid))
        self.peak_mb = max(self.peak_mb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak_mb
