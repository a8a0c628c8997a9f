"""Spans and per-layer counters, read from outside the engine.

A ``Tracer`` wraps each call into an engine layer in a Spark job group
of its own. When the call returns it waits for the listener bus to
drain, then reads, from Spark's status store, every stage of every job
in that group: executor run time, GC time, shuffle write bytes and
records, spill and failed tasks. The Spark UI stays disabled; the
status store is populated regardless.

Spans are kept in memory and written once, at exit. A disabled tracer
(``enabled=False``) sets no job group and reads nothing, so untraced
runs execute the engine exactly as a caller would.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# v1.StageData fields summed over a group's stages
_STAGE_FIELDS = {
    "busy_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "shuffle_bytes": "shuffleWriteBytes",
    "shuffle_records": "shuffleWriteRecords",
    "spill_bytes": "diskBytesSpilled",
    "failed_tasks": "numFailedTasks",
}


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM (VmHWM), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._seq = 0
        self._step = ""

    @contextmanager
    def step(self, name: str):
        """Parent step (a phase of the run) for the spans inside it."""
        prev, self._step = self._step, name
        try:
            yield
        finally:
            self._step = prev

    @contextmanager
    def span(self, layer: str):
        """Time one call into `layer`; with tracing on, also attach the
        status-store counters of the jobs it ran. The body may set
        ``rec["rows_out"]``."""
        rec: dict = {"name": layer, "step": self._step, "run_id": self.run_id}
        sc = self.spark.sparkContext
        group = None
        if self.enabled:
            self._seq += 1
            group = f"{self.run_id}/{self._seq}/{layer}"
            sc.setJobGroup(group, layer)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            if group is not None:
                sc._jsc.clearJobGroup()
                rec.update(self._counters(group))
                self.spans.append(rec)

    def _counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        out = {k: 0 for k in _STAGE_FIELDS}
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                data = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage may never be stored
                continue
            for key, field in _STAGE_FIELDS.items():
                out[key] += getattr(data, field)()
        out["jobs"] = len(job_ids)
        out["stages"] = len(stage_ids)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, fh, indent=1)


# layers that also report shuffle, spill and GC
SHUFFLE_LAYERS = (
    "extract", "link", "canon", "materialize.edges", "materialize.edges_agg",
    "dedupe.minhash",
)
LAYERS = (
    "tpch", "segment", "extract", "link.surfaces", "link", "canon",
    "materialize.entities", "materialize.vertices", "materialize.edges",
    "materialize.edges_agg", "materialize.write",
    "search.index", "search.request",
    "checkpoint.ingest", "checkpoint.resume", "dedupe.minhash", "dedupe.simhash",
)


def layer_metrics(spans: list[dict], cores: int) -> dict[str, float]:
    """Fold spans into ``<layer>.<metric>`` values, each the mean over
    the layer's calls (search.index runs a few times, search.request
    once per request, every other layer once). A layer a workload never
    calls reports zeros."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["name"] == layer]
        n = max(1, len(mine))
        wall = sum(s["wall_s"] for s in mine) / n
        busy = sum(s["busy_ms"] for s in mine) / 1000.0 / n
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.busy_s"] = busy
        out[f"{layer}.idle_core_s"] = wall * cores - busy
        out[f"{layer}.jobs"] = sum(s["jobs"] for s in mine) / n
        out[f"{layer}.rows_out"] = sum(s.get("rows_out", 0) for s in mine) / n
        if layer in SHUFFLE_LAYERS:
            out[f"{layer}.shuffle_bytes"] = sum(s["shuffle_bytes"] for s in mine) / n
            out[f"{layer}.spill_bytes"] = sum(s["spill_bytes"] for s in mine) / n
            out[f"{layer}.gc_s"] = sum(s["gc_ms"] for s in mine) / 1000.0 / n
    out["spark.failed_tasks"] = float(sum(s["failed_tasks"] for s in spans))
    return out


def shuffle_records(spans: list[dict], layer: str) -> int:
    return sum(s["shuffle_records"] for s in spans if s["name"] == layer)
