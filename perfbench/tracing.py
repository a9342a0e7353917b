"""Spans, job-group counters and streaming progress for the traced run.

Spans are recorded by the benchmark around its own calls into the library
(``q.fn``, the action on the returned DataFrame, ``load_table`` at the names
the plans modules bound at import, and streaming epochs from a
``StreamingQueryListener``).  They stay in memory and are written once at
exit.  Job and stage counters come from Spark's status REST API, attributed
to each operation through job groups the benchmark sets.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span recorder; a no-op when ``enabled`` is false."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_id = 1

    def _new(self, name: str, layer: str, op, start: float, end: float, parent) -> dict:
        rec = {"id": self._next_id, "parent": parent, "name": name,
               "layer": layer, "op": op, "start": start, "end": end}
        self._next_id += 1
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, layer: str, op=None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = self._new(name, layer, op, time.perf_counter(), 0.0, parent)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, layer: str, op, start: float, end: float, parent=None) -> dict | None:
        """Record a span measured elsewhere (listener-reported epochs)."""
        if not self.enabled:
            return None
        return self._new(name, layer, op, start, end, parent)

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: span duration minus the part its children cover."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], ())
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        out[s["layer"]] += (s["end"] - s["start"]) - _union_length(kids)
    return dict(out)


def uncovered(spans: list[dict], start: float, end: float) -> float:
    """Share of ``[start, end]`` that no root span covers."""
    roots = [
        (max(s["start"], start), min(s["end"], end))
        for s in spans
        if s["parent"] is None and s["end"] > start and s["start"] < end
    ]
    wall = end - start
    return (wall - _union_length(roots)) / wall if wall > 0 else 0.0


@contextmanager
def wrapped_load_table(tracer: Tracer, sc, op_ref: list):
    """Wrap ``load_table`` where library modules bound it at import.

    Each call gets a ``sources`` span and its own job group, so the
    schema-inference jobs it starts are counted apart from the caller's.
    ``op_ref[0]`` names the operation in progress.
    """
    from bigdata_20251_steam_spark.sources import batch

    original = batch.load_table

    @functools.wraps(original)
    def traced(spark, sf_dir, name):
        op = op_ref[0]
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"pb.load.{op}", name)
        try:
            with tracer.span(f"load_table:{name}", "sources", op):
                return original(spark, sf_dir, name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    bound = [
        m for name, m in list(sys.modules.items())
        if name.startswith("bigdata_20251_steam_spark.")
        and getattr(m, "load_table", None) is original
    ]
    for m in bound:
        m.load_table = traced
    try:
        yield len(bound)
    finally:
        for m in bound:
            m.load_table = original


# ------------------------------------------------------------ listener


def _iso_to_epoch(ts: str) -> float:
    return datetime.strptime(ts.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class ProgressCollector(StreamingQueryListener):
    """Keeps every micro-batch progress and each query's termination."""

    def __init__(self):
        self._lock = threading.Lock()
        self.progress: list[dict] = []
        self.started: set[str] = set()
        self.terminated: dict[str, str | None] = {}

    def onQueryStarted(self, event):
        with self._lock:
            self.started.add(str(event.id))

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "query": str(p.id),
            "batch": p.batchId,
            "start_epoch_s": _iso_to_epoch(p.timestamp),
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state": [
                {
                    "rows_total": s.numRowsTotal,
                    "memory_bytes": s.memoryUsedBytes,
                    "dropped_by_watermark": s.numRowsDroppedByWatermark,
                }
                for s in p.stateOperators
            ],
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated[str(event.id)] = event.exception

    def wait_all_terminated(self, timeout: float = 60.0) -> None:
        """Listener events are asynchronous: wait until every started query's
        termination (posted after its last progress) has arrived."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self.started <= set(self.terminated):
                    return
            time.sleep(0.02)
        raise TimeoutError("streaming listener did not see every query terminate")

    def take(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out


# ------------------------------------------------------------ REST counters

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(value: str) -> float:
    """A SQL-metric display string (``"10,000"``, ``"total (...)\\n5.7 s (..)"``,
    ``"78.7 KiB"``) as a number in base units (rows, bytes, seconds)."""
    line = value.strip().splitlines()[-1] if "\n" in value else value.strip()
    m = re.match(r"([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def rest(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as resp:
        return json.load(resp)


def max_job_id(sc) -> int:
    jobs = rest(sc, "jobs")
    return max((j["jobId"] for j in jobs), default=-1)


_PY_NODE = re.compile(r"Python|Pandas|Arrow")


def job_counters(sc, jobs_of_interest) -> dict[str, float]:
    """Stage and Python-boundary counters summed over the given job ids."""
    want = set(jobs_of_interest)
    jobs = [j for j in rest(sc, "jobs") if j["jobId"] in want]
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    acc = defaultdict(float)
    acc["exec.jobs"] = len(jobs)
    for s in rest(sc, "stages"):
        if s["stageId"] not in stage_ids or s["status"] != "COMPLETE":
            continue
        acc["exec.stages"] += 1
        acc["exec.tasks"] += s["numCompleteTasks"]
        acc["exec.executor_run_s"] += s["executorRunTime"] / 1e3
        acc["exec.executor_cpu_s"] += s["executorCpuTime"] / 1e9
        acc["exec.gc_s"] += s["jvmGcTime"] / 1e3
        acc["exec.input_bytes"] += s["inputBytes"]
        acc["exec.shuffle_read_bytes"] += s["shuffleReadBytes"]
        acc["exec.shuffle_write_bytes"] += s["shuffleWriteBytes"]
        acc["exec.spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        acc["exec.output_bytes"] += s["outputBytes"]
    execs = rest(sc, "sql?details=true&planDescription=false&offset=0&length=100000")
    for e in execs:
        if not want.intersection(e.get("successJobIds", [])):
            continue
        for node in e.get("nodes", []):
            if not _PY_NODE.search(node["nodeName"]):
                continue
            for m in node.get("metrics", []):
                key = {
                    "number of output rows": "pyudf.rows",
                    "data sent to Python workers": "pyudf.bytes_sent",
                    "data returned from Python workers": "pyudf.bytes_received",
                    "time to run Python workers": "pyudf.worker_run_s",
                }.get(m["name"])
                if key:
                    acc[key] += parse_metric(m["value"])
    return dict(acc)


def jobs_by_group(sc, first_job: int) -> dict[str, list[int]]:
    """Job ids after ``first_job``, keyed by job group (``""`` when unset)."""
    out: dict[str, list[int]] = defaultdict(list)
    for j in rest(sc, "jobs"):
        if j["jobId"] > first_job:
            out[j.get("jobGroup") or ""].append(j["jobId"])
    return dict(out)
