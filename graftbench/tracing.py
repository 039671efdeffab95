"""In-memory span tracing around the package's public layer functions.

Wrappers are installed from the benchmark's side by patching module and
class attributes, so no file of the package changes. Each span records
name, layer, start, end, parent and the run unit it belongs to, and tags
every Spark job it triggers with its own job group; stage metrics are
read back from the Spark status REST API after the timed section, and
attributed to the innermost span through that group.
"""

from __future__ import annotations

import json
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    unit: int | None
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


def merge_intervals(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(iv):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def write_destination(path: str) -> tuple[str, str]:
    """(span name, layer) of a ``DataFrameWriter.parquet`` call, classified
    by where it writes in the sync/curate work-dir layout."""
    p = str(path).replace("\\", "/")
    if "/_manifest" in p:
        return "manifest_write", "manifest"
    if "/staging/" in p:
        return "stage_write", "sync"
    if "/target/" in p:
        return "load_write", "sync"
    if "/_run_log" in p:
        return "run_log_write", "pipeline"
    return "write", "curate"


class Tracer:
    """Span recorder. ``unit`` is set by the workload loop; spans opened
    while it is ``None`` belong to set-up."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.unit: int | None = None
        self.overhead_s = 0.0     # wrapper bookkeeping inside timed units
        self.gc_s = 0.0           # JVM collector time inside timed units
        self._patches: list[tuple[Any, str, Any]] = []

    # -- spans --------------------------------------------------------
    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{span.id}", span.name, False)

    def call(self, name: str, layer: str, fn: Callable, *args, **kwargs):
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), name, layer, 0.0,
                    parent.id if parent else None, self.unit)
        self.spans.append(span)
        if parent is not None:
            parent.children.append(span.id)
        self.stack.append(span)
        self._set_group(span)
        span.start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            self.stack.pop()
            self._set_group(parent)
            if span.unit is not None:
                self.overhead_s += (span.start - t0
                                    + time.perf_counter() - span.end)

    def _gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def run_unit(self, unit: int, fn: Callable):
        """Run one timed unit under a top-level ``unit`` span."""
        gc0 = self._gc_seconds()
        self.unit = unit
        try:
            return self.call("unit", "bench", fn)
        finally:
            self.unit = None
            self.gc_s += self._gc_seconds() - gc0

    def wrap(self, owner: Any, attr: str, name: str, layer: str,
             classify: Callable[..., tuple[str, str]] | None = None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            n, lay = classify(*args, **kwargs) if classify else (name, layer)
            return tracer.call(n, lay, orig, *args, **kwargs)

        wrapper.__wrapped__ = orig
        wrapper.__name__ = getattr(orig, "__name__", attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from s3_redshift_backup_tool_spark import state
        from s3_redshift_backup_tool_spark.operators import cdc, dedup, manifest
        from s3_redshift_backup_tool_spark.plans import curate, sync

        for meth in ("get", "start_sync", "update_extraction_state",
                     "start_load", "update_load_state",
                     "reconcile_file_counters", "update_target_count",
                     "acquire_lock", "release_lock"):
            self.wrap(state.WatermarkStore, meth, f"state.{meth}", "state")
        for meth in ("paths_df", "record", "exclude_loaded", "count"):
            self.wrap(manifest.ParquetManifest, meth, f"manifest.{meth}",
                      "manifest")
        self.wrap(cdc, "snapshot_ceiling", "snapshot_ceiling", "cdc")
        self.wrap(DataFrame, "isEmpty", "isEmpty", "cdc")
        self.wrap(DataFrame, "inputFiles", "inputFiles", "sync")
        self.wrap(DataFrameWriter, "parquet", "write", "sync",
                  classify=lambda _self, path="", *a, **k: write_destination(path))
        self.wrap(sync, "sync_table", "sync_table", "sync")
        self.wrap(sync, "sync_pipeline", "sync_pipeline", "pipeline")
        self.wrap(curate, "curate_corpus", "curate_corpus", "curate")
        self.wrap(dedup, "neardup_components", "neardup_components", "dedup")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- analysis -----------------------------------------------------
    def self_time(self, span: Span) -> float:
        kids = [(self.spans[c].start, self.spans[c].end) for c in span.children]
        return span.dur - sum(e - s for s, e in merge_intervals(kids))

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span.id]
        while todo:
            s = self.spans[todo.pop()]
            out.append(s)
            todo.extend(s.children)
        return out


# ---------------------------------------------------------------------------
# Spark status REST API
# ---------------------------------------------------------------------------

def _get(url: str) -> Any:
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _epoch(ts: str | None) -> float | None:
    """Status-API timestamps read like ``2026-10-17T03:40:53.123GMT``."""
    if not ts:
        return None
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


# longest wait for the UI listener to catch up with the last jobs
SETTLE_S = 10.0


def fetch_jobs_and_stages(sc) -> tuple[list, dict]:
    """All jobs and completed stage attempts of this application, once the
    UI listener has caught up (no job still running, count stable)."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + SETTLE_S
    last = -1
    while True:
        jobs = _get(f"{base}/jobs")
        running = any(j["status"] == "RUNNING" for j in jobs)
        if (not running and len(jobs) == last) or time.monotonic() > deadline:
            break
        last = len(jobs)
        time.sleep(0.3)
    stages = {}
    for st in _get(f"{base}/stages?status=complete"):
        stages.setdefault(st["stageId"], []).append(st)
    return jobs, stages


@dataclass
class JobInfo:
    group: str | None
    start: float | None
    end: float | None
    tasks: int
    stages: list[dict]


def job_infos(jobs: list, stages: dict) -> list[JobInfo]:
    """Jobs with the stage attempts they ran. A later job lists the shuffle
    stages it reuses as well, so each stage goes to the first job listing it."""
    out, seen = [], set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        ids = [sid for sid in j.get("stageIds", []) if sid not in seen]
        seen.update(ids)
        sts = [a for sid in ids for a in stages.get(sid, [])]
        out.append(JobInfo(j.get("jobGroup"), _epoch(j.get("submissionTime")),
                           _epoch(j.get("completionTime")),
                           sum(a.get("numCompleteTasks", a.get("numTasks", 0))
                               for a in sts), sts))
    return out


def stage_sum(infos: list[JobInfo], key: str) -> float:
    return float(sum(a.get(key, 0) or 0 for j in infos for a in j.stages))
