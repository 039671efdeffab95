"""Tests of the benchmark's own generators and oracles (no Spark needed).

    python -m pytest graftbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
from gen import CdcShape, CdcSource, CorpusShape, write_corpus  # noqa: E402
from layers import layer_metrics  # noqa: E402
from tracing import Tracer  # noqa: E402

SHAPE = CdcShape(history_rows=500, increment_rows=90, update_share=1 / 3,
                 tie_share=0.2)
CORPUS = CorpusShape(docs=120, exact_dup_share=0.1, near_dup_share=0.1,
                     low_quality_share=0.1, eval_overlap_share=0.1, eval_docs=10,
                     vocab=800)


def _orders(tmp_path, seed: int, name: str = "src") -> CdcSource:
    src = CdcSource(str(tmp_path / name), "orders", SHAPE, np.random.default_rng(seed))
    src.write_history()
    src.write_increment()
    return src


def _read_dir(d: str) -> pa.Table:
    return pa.concat_tables(pq.read_table(os.path.join(d, f))
                            for f in sorted(os.listdir(d)))


def test_cdc_generator_is_deterministic_per_seed(tmp_path):
    a = _read_dir(_orders(tmp_path, 7, "a").directory)
    b = _read_dir(_orders(tmp_path, 7, "b").directory)
    c = _read_dir(_orders(tmp_path, 8, "c").directory)
    assert a.equals(b)
    assert not a.equals(c)


def test_cdc_generator_traffic_shape(tmp_path):
    t = _read_dir(_orders(tmp_path, 3).directory)
    ids = t.column("id").to_numpy()
    ts = t.column("updated_at").cast(pa.int64()).to_numpy()   # microseconds
    inc = ids[SHAPE.history_rows:]
    assert len(inc) == SHAPE.increment_rows
    # updates re-version older ids; inserts take fresh ones
    assert (inc <= SHAPE.history_rows).sum() == 30
    assert len(set(zip(ids, ts))) == len(ids)
    gaps = np.diff(ts)
    assert (gaps >= 0).all()
    assert (gaps == 0).any()                   # same-timestamp ties
    assert (ts % 1_000_000 != 0).mean() > 0.99  # sub-second cursors


def test_corpus_generator_is_deterministic_per_seed(tmp_path):
    p1 = write_corpus(str(tmp_path / "a"), CORPUS, np.random.default_rng(5))
    p2 = write_corpus(str(tmp_path / "b"), CORPUS, np.random.default_rng(5))
    for k in ("docs", "eval"):
        assert pq.read_table(p1[k]).equals(pq.read_table(p2[k]))
    docs = pq.read_table(p1["docs"]).to_pandas()
    assert len(docs) == CORPUS.docs
    assert docs["text"].duplicated().any()     # exact duplicates present


def _write_target(path: str, table: pa.Table) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, f"part-{len(os.listdir(path))}.parquet"))


def _committed(table: pa.Table) -> tuple[str, int]:
    """The watermark the program commits for ``table``: its last version
    under the hybrid keyset, with the timestamp floored to whole seconds."""
    last = table.sort_by([("updated_at", "descending"), ("id", "descending")]).slice(0, 1)
    ts = last.column("updated_at")[0].as_py()
    return ts.strftime("%Y-%m-%d %H:%M:%S"), last.column("id")[0].as_py()


def _synced_once(tmp_path, seed: int):
    """An oracle after a first full sync, and the next increment."""
    src = _orders(tmp_path, seed)
    full = _read_dir(src.directory)
    target = str(tmp_path / "target")
    orc = oracle.SyncOracle(src.directory, target, "updated_at", ("updated_at", "id"))
    _write_target(target, full)
    first = orc.check(_committed(full))
    assert first.ok and first.expected_new == full.num_rows and first.dup_new == 0
    src.write_increment()
    inc = pq.read_table(os.path.join(src.directory, "part-00005.parquet"))
    return orc, full, inc, target


def test_sync_oracle_counts_an_injected_duplicate(tmp_path):
    orc, full, inc, target = _synced_once(tmp_path, 1)
    # the sync re-loads the last loaded version next to the new ones, as a
    # whole-second watermark makes it do
    _write_target(target, pa.concat_tables([inc, full.slice(full.num_rows - 1, 1)]))
    second = orc.check(_committed(pa.concat_tables([full, inc])))
    assert second.expected_new == inc.num_rows
    assert second.added_distinct == inc.num_rows
    assert second.dup_new == 1 and second.missing == 0
    assert second.dup_allowed >= 1 and second.ok
    assert orc.duplicates() == 1


def test_sync_oracle_fails_duplicates_the_watermark_does_not_explain(tmp_path):
    orc, full, inc, target = _synced_once(tmp_path, 4)
    # versions from early in the history, far below the committed second
    _write_target(target, pa.concat_tables([inc, full.slice(10, 5)]))
    second = orc.check(_committed(pa.concat_tables([full, inc])))
    assert second.added_distinct == second.expected_new == inc.num_rows
    assert second.dup_new == 5 and second.dup_allowed < 5
    assert not second.ok
    assert orc.duplicates() == 5


def test_sync_oracle_flags_missing_versions_and_watermark_regression(tmp_path):
    src = _orders(tmp_path, 2)
    full = _read_dir(src.directory)
    target = str(tmp_path / "target")
    orc = oracle.SyncOracle(src.directory, target, "updated_at", ("updated_at", "id"))
    _write_target(target, full.slice(0, full.num_rows - 3))
    c = orc.check(("2026-05-01 00:00:00", 10))
    assert c.missing == 3 and not c.ok
    c = orc.check(("2026-04-01 00:00:00", 10))
    assert not c.watermark_ok and not c.ok


@pytest.mark.parametrize("text, threshold, contaminated", [
    ("a b c d e", 0.5, True),
    ("x y z q r", 0.5, False),
])
def test_curation_oracle(tmp_path, text, threshold, contaminated):
    ev = str(tmp_path / "eval.parquet")
    pq.write_table(pa.table({"text": ["a b c d e f"]}), ev)
    out = str(tmp_path / "out")
    os.makedirs(out)
    pq.write_table(pa.table({"text": [text, "m n o p", "m n o p"]}),
                   os.path.join(out, "part-0.parquet"))
    counts = {"input": 5, "exact_dedup": 4, "near_dedup": 4, "quality": 3,
              "decontaminated": 3, "source_capped": 3, "packed": 3}
    bad = oracle.check_curation(counts, out, ev, threshold, counts)
    assert any("exact-duplicate" in b for b in bad)
    assert any("contamination" in b for b in bad) == contaminated
    assert oracle.check_curation(dict(counts, packed=2), out, ev, threshold, counts)


class _FakeContext:
    def setJobGroup(self, *args):
        pass

    def setLocalProperty(self, *args):
        pass


def _traced_pipeline(stray_s: float) -> dict:
    """Per-layer metrics of two synthetic pipeline units shaped like a
    sync; the second runs an extra write after the verify stage, which no
    metric reports."""
    tracer = Tracer(SimpleNamespace(sparkContext=_FakeContext()))
    tracer._gc_seconds = lambda: 0.0

    def leaf(name, layer, seconds):
        tracer.call(name, layer, time.sleep, seconds)

    def sync_table(stray):
        leaf("state.start_sync", "state", 0.005)
        leaf("snapshot_ceiling", "cdc", 0.005)
        leaf("stage_write", "sync", 0.005)
        leaf("state.start_load", "state", 0.005)
        leaf("inputFiles", "sync", 0.005)
        leaf("manifest.record", "manifest", 0.005)
        leaf("load_write", "sync", 0.02)
        leaf("state.update_load_state", "state", 0.005)
        time.sleep(0.01)                       # the target count
        leaf("state.update_target_count", "state", 0.005)
        if stray:
            leaf("load_write", "sync", stray)

    def pipeline(stray):
        tracer.call("sync_table", "sync", sync_table, stray)
        leaf("run_log_write", "pipeline", 0.005)

    for i, stray in enumerate((0.0, stray_s)):
        tracer.run_unit(i, lambda: tracer.call("sync_pipeline", "pipeline",
                                               pipeline, stray))
    outcome = SimpleNamespace(
        units=[SimpleNamespace(kind="increment", wall_s=s.dur, failed=False)
               for s in tracer.spans if s.name == "unit"],
        syncs=[], work_dir=os.devnull, near_dup_drop_share=0.0,
        dup_row_versions=0, missing_row_versions=0)
    return layer_metrics(tracer, [], {}, outcome, 4, 0.0)


def test_unaccounted_time_shows_unreported_pipeline_spans():
    m = _traced_pipeline(0.0)
    assert abs(m["trace.unaccounted_s"]) < 1e-6
    assert m["sync.load_s"] >= 0.02 and m["sync.verify_s"] >= 0.01
    m = _traced_pipeline(0.06)
    # half of the stray write, per unit
    assert 0.03 <= m["trace.unaccounted_s"] < 0.05
