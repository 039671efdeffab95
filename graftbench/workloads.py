"""The benchmark's workloads, driven through the package's public entry
points (``plans.sync.sync_pipeline`` and ``plans.curate.curate_corpus``).

Closed loop: one client in one process issues the next run unit only when
the previous one returned, against a ``local[nproc]`` session.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import oracle
from gen import CdcShape, CdcSource, CorpusShape, write_corpus

# The history sizes are a small fraction of a production table: each run
# restarts the JVM and pays a cold first sync, and a whole run, set-up
# included, is kept to about a minute on a 4-core host.
#
# Sourced shares: the 3k-version increment and its 1/3 update share. The
# others are unverified assumptions, not measured traffic: 5% timestamp
# ties (enough that every increment holds some, so the hybrid keyset's
# tie-break runs), a no-op poll every third unit (a cron schedule that
# sometimes fires before new rows land), and the corpus mix (each filter
# drops a visible share of an 800-doc corpus).
TRICKLE_HISTORY = CdcShape(history_rows=30_000, increment_rows=3_000,
                           update_share=1 / 3, tie_share=0.05)
EVENTS_HISTORY = CdcShape(history_rows=30_000, increment_rows=3_000,
                          update_share=0.0, tie_share=0.05)
# units run in whole rounds so the poll share is the same in every run
TRICKLE_ROUND = ("increment", "increment", "poll")
CORPUS = CorpusShape(docs=800, exact_dup_share=0.08, near_dup_share=0.10,
                     low_quality_share=0.06, eval_overlap_share=0.04,
                     eval_docs=60, vocab=20_000)
CONTAMINATION_THRESHOLD = 0.5

TABLES = {
    "orders_cdc": {"cdc_strategy": "hybrid", "cdc_timestamp_column": "updated_at",
                   "cdc_id_column": "id"},
    "events_log": {"cdc_strategy": "id_only", "cdc_timestamp_column": "event_ts",
                   "cdc_id_column": "id"},
}
PIPELINE = {"pipeline": {"name": "trickle", "source": "src", "target": "tgt"},
            "tables": TABLES}


@dataclass
class Unit:
    kind: str
    wall_s: float
    rows: int = 0                 # source row versions (or input docs) completed
    failed: bool = False
    bytes_written: int = 0
    source_bytes: int = 0         # new source parquet the unit consumed


@dataclass
class SyncRecord:
    """One table sync inside a timed unit, for the per-layer ratios."""
    rows_extracted: int
    expected_new: int
    loaded_rows: int              # rows in the staged files newly loaded


@dataclass
class Outcome:
    setup_s: float
    units: list[Unit]
    work_dir: str
    source_bytes_total: int
    setup_failed: bool = False
    dup_row_versions: int = 0
    missing_row_versions: int = 0
    syncs: list[SyncRecord] = field(default_factory=list)
    near_dup_drop_share: float = 0.0


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    return sum(v[0] for p, v in after.items() if before.get(p) != v)


def _tree_bytes(root: str) -> int:
    return sum(v[0] for v in _files(root).values())


def _timed(what: str, fn) -> tuple[float, object]:
    """(wall_s, result) of one call into the program; the result is
    ``None`` when the call raised, which the caller counts as a failed unit."""
    t0 = time.perf_counter()
    try:
        res = fn()
    except Exception:   # a failed unit is counted; the loop goes on
        print(f"[graftbench] {what} failed:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        res = None
    return time.perf_counter() - t0, res


# ---------------------------------------------------------------------------
# cdc_trickle
# ---------------------------------------------------------------------------

def cdc_trickle(spark, rng: np.random.Generator, run_dir: str,
                seconds: float, tracer=None) -> Outcome:
    from s3_redshift_backup_tool_spark.plans import sync
    from s3_redshift_backup_tool_spark.plans.pipeline import pipeline_from_dict
    from s3_redshift_backup_tool_spark.state import LocalJsonBackend, WatermarkStore

    t_setup = time.perf_counter()
    work = os.path.join(run_dir, "work")
    state_root = os.path.join(work, "_state")
    store = WatermarkStore(LocalJsonBackend(state_root))
    pipe = pipeline_from_dict(PIPELINE)
    sources = {
        "orders_cdc": CdcSource(os.path.join(run_dir, "src", "orders_cdc"),
                                "orders", TRICKLE_HISTORY, rng),
        "events_log": CdcSource(os.path.join(run_dir, "src", "events_log"),
                                "events", EVENTS_HISTORY, rng),
    }
    oracles = {
        "orders_cdc": oracle.SyncOracle(
            sources["orders_cdc"].directory, os.path.join(work, "target", "orders_cdc"),
            "updated_at", ("updated_at", "id")),
        "events_log": oracle.SyncOracle(
            sources["events_log"].directory, os.path.join(work, "target", "events_log"),
            "event_ts", ("id",)),
    }
    for s in sources.values():
        s.write_history()

    def read_source(name: str):
        return spark.read.parquet(sources[name].directory)

    def one_sync() -> tuple[float, dict | None]:
        return _timed("sync_pipeline", lambda: sync.sync_pipeline(
            spark, pipe, store, read_source, work))

    manifests = {name: set() for name in oracles}

    def check(res: dict | None, syncs: list[SyncRecord]) -> tuple[int, bool]:
        """Oracle after a sync: (source versions completed, failed?)."""
        failed = res is None
        done = 0
        for name, orc in oracles.items():
            c = orc.check(oracle.read_watermark(state_root, "src", name, "tgt"))
            recorded = oracle.manifest_paths(
                os.path.join(work, "staging", name, "_manifest"))
            loaded, manifests[name] = recorded - manifests[name], recorded
            done += c.expected_new
            r = res.get(name) if res else None
            if r is None or not r.verified or not c.ok:
                failed = True
                print(f"[graftbench] {name}: verified={r and r.verified} {c}",
                      file=sys.stderr)
            if r is not None:
                syncs.append(SyncRecord(r.rows_extracted, c.expected_new,
                                        oracle.parquet_rows(loaded)))
        return done, failed

    def increment() -> int:
        """Append one increment to every source; its bytes."""
        b0 = sum(s.bytes for s in sources.values())
        for s in sources.values():
            s.write_increment()
        return sum(s.bytes for s in sources.values()) - b0

    # warm-up, outside the timed units: the history load (a cold full sync)
    # and one increment, since the first increments after it still run
    # partly cold
    setup_failed = check(one_sync()[1], [])[1]
    increment()
    setup_failed |= check(one_sync()[1], [])[1]
    setup_s = time.perf_counter() - t_setup

    units: list[Unit] = []
    syncs: list[SyncRecord] = []
    t_end = time.perf_counter() + seconds
    while not units or time.perf_counter() < t_end:
        for kind in TRICKLE_ROUND:
            i = len(units)
            src_bytes = increment() if kind == "increment" else 0
            files0 = _files(work)
            wall, res = tracer.run_unit(i, one_sync) if tracer else one_sync()
            written = _written(files0, _files(work))
            done, failed = check(res, syncs)
            units.append(Unit(kind, wall, done, failed, written, src_bytes))
        # the t_end test sits after whole rounds on purpose (see TRICKLE_ROUND)

    for o in oracles.values():
        o.close()
    return Outcome(setup_s, units, work, sum(s.bytes for s in sources.values()),
                   setup_failed=setup_failed, syncs=syncs,
                   dup_row_versions=sum(o.duplicates() for o in oracles.values()),
                   missing_row_versions=sum(o.missing for o in oracles.values()))


# ---------------------------------------------------------------------------
# corpus_curate
# ---------------------------------------------------------------------------

def corpus_curate(spark, rng: np.random.Generator, run_dir: str,
                  seconds: float, tracer=None) -> Outcome:
    from s3_redshift_backup_tool_spark.plans import curate

    t_setup = time.perf_counter()
    paths = write_corpus(os.path.join(run_dir, "corpus"), CORPUS, rng)
    work = os.path.join(run_dir, "work")
    out_dir = os.path.join(work, "shards")
    docs = spark.read.parquet(paths["docs"])
    eval_docs = spark.read.parquet(paths["eval"])
    docs_bytes = os.path.getsize(paths["docs"])

    def one_curation() -> tuple[float, dict | None]:
        wall, res = _timed("curate_corpus", lambda: curate.curate_corpus(
            spark, docs, eval_docs, out_path=out_dir,
            contamination_threshold=CONTAMINATION_THRESHOLD,
            per_source_cap=CORPUS.docs // 5, pack_budget=2048, pack_buckets=8))
        return wall, dict(res.counts) if res else None

    def violations(counts: dict | None, reference: dict | None) -> list[str]:
        if counts is None:
            return ["curate_corpus raised"]
        return oracle.check_curation(counts, out_dir, paths["eval"],
                                     CONTAMINATION_THRESHOLD, reference)

    # warm-up curation: its counts are the reference every timed unit on
    # the same input must reproduce
    reference = one_curation()[1]
    warm_bad = violations(reference, None)
    for v in warm_bad:
        print(f"[graftbench] warm-up curation: {v}", file=sys.stderr)
    setup_s = time.perf_counter() - t_setup

    units: list[Unit] = []
    drops = []
    t_end = time.perf_counter() + seconds
    while not units or time.perf_counter() < t_end:
        i = len(units)
        files0 = _files(work)
        wall, counts = tracer.run_unit(i, one_curation) if tracer else one_curation()
        written = _written(files0, _files(work))
        bad = violations(counts, reference)
        for v in bad:
            print(f"[graftbench] curation unit {i}: {v}", file=sys.stderr)
        units.append(Unit("curate", wall, counts["input"] if counts else 0,
                          bool(bad), written, docs_bytes))
        if counts:
            drops.append((counts["exact_dedup"] - counts["near_dedup"])
                         / max(counts["exact_dedup"], 1))
    return Outcome(setup_s, units, work, docs_bytes, setup_failed=bool(warm_bad),
                   near_dup_drop_share=statistics.fmean(drops) if drops else 0.0)


WORKLOADS = {"cdc_trickle": cdc_trickle, "corpus_curate": corpus_curate}


def end_to_end(out: Outcome, session_s: float) -> dict[str, float]:
    timed = [u for u in out.units if u.kind != "poll"]
    wall = sum(u.wall_s for u in out.units)
    return {
        "setup_s": session_s + out.setup_s,
        "run_s_p50": statistics.median(u.wall_s for u in timed),
        "rows_per_s": sum(u.rows for u in out.units) / wall,
        "write_amp": (sum(u.bytes_written for u in out.units)
                      / max(sum(u.source_bytes for u in out.units), 1)),
        "space_amp": _tree_bytes(out.work_dir) / out.source_bytes_total,
    }
