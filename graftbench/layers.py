"""Per-layer metrics of a traced run, from spans, Spark job/stage metrics
and the oracle's records. Only spans of timed units count.

"Per sync" divides by the number of table syncs in timed units, "per unit"
by the number of timed units. Stage-derived figures (bytes, CPU, tasks)
belong to the innermost span whose job group the job carried.

- state.self_s, state.calls: WatermarkStore method time (own, nested
  store calls folded in) and calls, per sync.
- cdc.probe_s, cdc.probe_rows_read: ``snapshot_ceiling`` plus the
  empty-delta ``isEmpty`` probe, wall and rows scanned, per sync. (Rows,
  not bytes: the status API's ``inputBytes`` misses the parquet data pages
  of local files and reads below 1% of the bytes scanned.)
- cdc.extract_ratio: rows extracted / source versions new since the last
  sync, as the oracle counts them.
- sync.stage_s, sync.stage_shuffle_bytes, sync.stage_spill_bytes: the
  staging ``DataFrameWriter.parquet`` call, per sync.
- sync.stage_files, manifest.files: parquet files under staging (manifest
  excluded) and under the manifest at the end of the run.
- sync.list_s: ``DataFrame.inputFiles`` time, per sync.
- sync.load_s: the load stage, from the end of ``start_load`` to the start
  of ``update_load_state``, less the listing, manifest and state spans in
  it (``sync.list_s``, ``manifest.self_s`` and ``state.self_s`` report
  those), per sync. What is left is mostly the load write.
- sync.load_read_ratio: staged rows scanned by the load write / rows in
  the staged files the manifest newly recorded.
- sync.verify_s: the target count, from the end of the state call before
  ``update_target_count`` to its start, less reported child spans, per sync.
- sync.self_s: own time of ``sync_table`` outside the load and verify
  stages (per sync); manifest.self_s: own time of ``ParquetManifest``
  methods (per sync); pipeline.self_s: own time of ``sync_pipeline`` plus
  its run-log write (per unit).
- manifest.jobs: Spark jobs tagged with a manifest span, per sync.
- pipeline.noop_sync_s: median wall of a poll unit.
- curate.jobs, curate.tasks, curate.shuffle_bytes, curate.executor_cpu_s:
  jobs under ``curate_corpus``, per unit.
- dedup.components_s: ``neardup_components`` wall, per unit;
  dedup.near_dup_drop_share: share of exact-deduplicated docs the near-dup
  stage drops.
- spark.jobs, spark.tasks, spark.gc_s: per unit (GC from the JVM's
  collector beans); spark.cpu_util: executor CPU / (unit wall x cores);
  spark.driver_gap_share: share of unit wall with no job running;
  spark.peak_rss_mb: peak resident memory (VmHWM) of the driver JVM plus
  the benchmark process. It is not an end-to-end metric: JVM heap growth
  spreads it by 10-40% between runs of one commit.
- oracle.*: duplicate and missing row versions left in the targets at the
  end, and the share of timed units that failed.
- trace.overhead_share: wrapper bookkeeping / unit wall;
  trace.unaccounted_s: the ``sync_pipeline`` span less the sum of the
  metrics that split it (state.self_s, cdc.probe_s, sync.stage_s,
  sync.list_s, sync.load_s, sync.verify_s, sync.self_s, manifest.self_s,
  scaled from per sync to per unit, and pipeline.self_s), per unit. It
  shows pipeline time no metric reports, or, below 0, time two metrics
  both report; 0 on corpus_curate, which runs no pipeline.
"""

from __future__ import annotations

import glob
import os
import statistics

from tracing import Tracer, job_infos, merge_intervals, stage_sum

# name -> unit, in report order
PER_LAYER = {
    "state.self_s": "s", "state.calls": "count", "cdc.probe_s": "s",
    "cdc.probe_rows_read": "rows", "cdc.extract_ratio": "ratio",
    "sync.stage_s": "s", "sync.stage_shuffle_bytes": "bytes",
    "sync.stage_spill_bytes": "bytes", "sync.stage_files": "count",
    "sync.list_s": "s", "sync.load_s": "s", "sync.load_read_ratio": "ratio",
    "sync.verify_s": "s", "sync.self_s": "s", "manifest.self_s": "s",
    "manifest.jobs": "count", "manifest.files": "count", "pipeline.self_s": "s",
    "pipeline.noop_sync_s": "s", "curate.jobs": "count", "curate.tasks": "count",
    "curate.shuffle_bytes": "bytes", "curate.executor_cpu_s": "s",
    "dedup.components_s": "s", "dedup.near_dup_drop_share": "ratio",
    "spark.jobs": "count", "spark.tasks": "count", "spark.cpu_util": "ratio",
    "spark.gc_s": "s", "spark.driver_gap_share": "ratio", "spark.peak_rss_mb": "MB",
    "oracle.dup_row_versions": "count", "oracle.missing_row_versions": "count",
    "oracle.failed_ops_share": "ratio", "trace.overhead_share": "ratio",
    "trace.unaccounted_s": "s",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def extract_ratio(syncs) -> float:
    """Rows extracted / source versions new since the previous sync."""
    return _ratio(sum(r.rows_extracted for r in syncs),
                  sum(r.expected_new for r in syncs))


def _count_parquet(root: str, manifest: bool) -> int:
    files = glob.glob(os.path.join(root, "staging", "*", "**", "*.parquet"),
                      recursive=True)
    return sum(("/_manifest/" in f) == manifest for f in files)


# child spans whose time a metric other than the sync stage metrics reports
def _reported_elsewhere(span) -> bool:
    return (span.layer in ("state", "manifest")
            or span.name in ("inputFiles", "snapshot_ceiling", "isEmpty", "stage_write"))


def _stage_window(tracer: Tracer, sync_span, before: str | None,
                  after: str) -> tuple[float, float] | None:
    """The stretch of ``sync_span`` from the end of the child named
    ``before`` (or, when ``None``, of any child) to the start of the next
    child named ``after``."""
    kids = [tracer.spans[c] for c in sync_span.children]
    for i, k in enumerate(kids):
        if k.name == after:
            prev = [p for p in kids[:i] if before is None or p.name == before]
            return (prev[-1].end, k.start) if prev else None
    return None


def _covered(tracer: Tracer, span, window: tuple[float, float], which) -> float:
    """Time inside ``window`` covered by the children of ``span`` that
    ``which`` selects."""
    lo, hi = window
    iv = [(max(c.start, lo), min(c.end, hi))
          for c in (tracer.spans[i] for i in span.children) if which(c)]
    return sum(e - s for s, e in merge_intervals([(s, e) for s, e in iv if e > s]))


def _sync_stages(tracer: Tracer, syncs) -> tuple[float, float, float]:
    """(load, verify, rest) seconds of the ``sync_table`` spans. The load
    and verify stages are their windows less the child spans other metrics
    report; the rest is the own time of ``sync_table`` outside both."""
    load = verify = own_in_stages = 0.0
    for s in syncs:
        for window, is_load in ((_stage_window(tracer, s, "state.start_load",
                                               "state.update_load_state"), True),
                                (_stage_window(tracer, s, None,
                                               "state.update_target_count"), False)):
            if window is None:
                continue
            length = window[1] - window[0]
            stage = length - _covered(tracer, s, window, _reported_elsewhere)
            if is_load:
                load += stage
            else:
                verify += stage
            own_in_stages += length - _covered(tracer, s, window, lambda c: True)
    rest = sum(tracer.self_time(s) for s in syncs) - own_in_stages
    return load, verify, rest


def layer_metrics(tracer: Tracer, jobs: list, stages: dict, outcome, cores: int,
                  epoch0: float) -> dict[str, float]:
    units = [s for s in tracer.spans if s.name == "unit" and s.unit is not None]
    n_units = len(units)
    timed = [s for s in tracer.spans if s.unit is not None]
    by_id = {s.id: s for s in timed}
    infos = [j for j in job_infos(jobs, stages)
             if j.group and j.group.startswith("span-")
             and int(j.group[5:]) in by_id]

    def jobs_of(spans) -> list:
        ids = {f"span-{s.id}" for s in spans}
        return [j for j in infos if j.group in ids]

    def total(name: str) -> float:
        return sum(s.dur for s in timed if s.name == name)

    def self_total(layer: str) -> float:
        return sum(tracer.self_time(s) for s in timed if s.layer == layer)

    syncs = [s for s in timed if s.name == "sync_table"]
    n_sync = len(syncs)
    probes = [s for s in timed if s.name in ("snapshot_ceiling", "isEmpty")
              and s.parent is not None and by_id[s.parent].name == "sync_table"]
    stage_w = [s for s in timed if s.name == "stage_write"]
    load_w = [s for s in timed if s.name == "load_write"]
    manifest_spans = [s for s in timed if s.layer == "manifest"]
    curate_tree = [d for s in timed if s.name == "curate_corpus"
                   for d in tracer.subtree(s)]
    curate_jobs = jobs_of(curate_tree)
    unit_wall = sum(s.dur for s in units)
    job_iv = [(j.start - epoch0, j.end - epoch0) for j in infos
              if j.start is not None and j.end is not None]
    busy = sum(max(0.0, min(e, u.end) - max(s, u.start))
               for u in units for s, e in merge_intervals(job_iv))
    polls = [u.wall_s for u in outcome.units if u.kind == "poll"]
    recs = outcome.syncs
    load_s, verify_s, sync_self_s = _sync_stages(tracer, syncs)

    out = {
        "state.self_s": _ratio(self_total("state"), n_sync),
        "state.calls": _ratio(sum(s.layer == "state" for s in timed), n_sync),
        "cdc.probe_s": _ratio(sum(s.dur for s in probes), n_sync),
        "cdc.probe_rows_read": _ratio(stage_sum(jobs_of(probes), "inputRecords"), n_sync),
        "cdc.extract_ratio": extract_ratio(recs),
        "sync.stage_s": _ratio(sum(s.dur for s in stage_w), n_sync),
        "sync.stage_shuffle_bytes": _ratio(
            stage_sum(jobs_of(stage_w), "shuffleWriteBytes"), n_sync),
        "sync.stage_spill_bytes": _ratio(
            stage_sum(jobs_of(stage_w), "memoryBytesSpilled")
            + stage_sum(jobs_of(stage_w), "diskBytesSpilled"), n_sync),
        "sync.stage_files": float(_count_parquet(outcome.work_dir, False)),
        "sync.list_s": _ratio(total("inputFiles"), n_sync),
        "sync.load_s": _ratio(load_s, n_sync),
        "sync.load_read_ratio": _ratio(stage_sum(jobs_of(load_w), "inputRecords"),
                                       sum(r.loaded_rows for r in recs)),
        "sync.verify_s": _ratio(verify_s, n_sync),
        "sync.self_s": _ratio(sync_self_s, n_sync),
        "manifest.self_s": _ratio(self_total("manifest"), n_sync),
        "manifest.jobs": _ratio(len(jobs_of(manifest_spans)), n_sync),
        "manifest.files": float(_count_parquet(outcome.work_dir, True)),
        "pipeline.self_s": _ratio(self_total("pipeline"), n_units),
        "pipeline.noop_sync_s": statistics.median(polls) if polls else 0.0,
        "curate.jobs": _ratio(len(curate_jobs), n_units),
        "curate.tasks": _ratio(sum(j.tasks for j in curate_jobs), n_units),
        "curate.shuffle_bytes": _ratio(stage_sum(curate_jobs, "shuffleWriteBytes"), n_units),
        "curate.executor_cpu_s": _ratio(
            stage_sum(curate_jobs, "executorCpuTime") / 1e9, n_units),
        "dedup.components_s": _ratio(total("neardup_components"), n_units),
        "dedup.near_dup_drop_share": outcome.near_dup_drop_share,
        "spark.jobs": _ratio(len(infos), n_units),
        "spark.tasks": _ratio(sum(j.tasks for j in infos), n_units),
        "spark.cpu_util": _ratio(stage_sum(infos, "executorCpuTime") / 1e9,
                                 unit_wall * cores),
        "spark.gc_s": _ratio(tracer.gc_s, n_units),
        "spark.driver_gap_share": _ratio(unit_wall - busy, unit_wall),
        "oracle.dup_row_versions": float(outcome.dup_row_versions),
        "oracle.missing_row_versions": float(outcome.missing_row_versions),
        "oracle.failed_ops_share": _ratio(sum(u.failed for u in outcome.units),
                                          len(outcome.units)),
        "trace.overhead_share": _ratio(tracer.overhead_s, unit_wall),
    }
    # the pipeline span less what the reported metrics say it was made of;
    # the per-sync metrics scale to per unit by syncs per unit
    pipeline_s = total("sync_pipeline")
    per_sync = ("state.self_s", "cdc.probe_s", "sync.stage_s", "sync.list_s",
                "sync.load_s", "sync.verify_s", "sync.self_s", "manifest.self_s")
    reported = sum(out[k] for k in per_sync) * n_sync + out["pipeline.self_s"] * n_units
    out["trace.unaccounted_s"] = _ratio(pipeline_s - reported, n_units) if pipeline_s else 0.0
    return out

