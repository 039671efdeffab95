"""Seeded input generators, one per workload.

Every generator takes the seed (through a ``numpy.random.Generator``) and
writes the parquet the program reads; the same seed gives byte-identical
rows. Timestamps are naive ``timestamp[us]`` with genuine sub-second
precision: CDC cursors in real source tables carry microseconds, and the
sync's cursor handling must be exercised on them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2026-01-01T00:00:00 in microseconds since the epoch
BASE_US = 1_767_225_600_000_000
DAY_US = 86_400_000_000
# the history spreads over this many days, which sets the year=/month=
# staging fan-out; an increment spans one hour of source time
HISTORY_DAYS = 120
INCREMENT_SPAN_US = 3_600_000_000
HISTORY_FILES = 4
STATUSES = np.array(["pending", "paid", "shipped", "delivered", "returned"])
EVENT_TYPES = np.array(["view", "click", "cart", "purchase", "refund"])


@dataclass(frozen=True)
class CdcShape:
    """Traffic dimensions of a CDC source table."""

    history_rows: int
    increment_rows: int
    update_share: float      # share of an increment that updates an older id
    tie_share: float         # share of versions sharing the previous version's timestamp


def _timestamps(rng: np.random.Generator, n: int, start_us: int,
                span_us: int, tie_share: float) -> np.ndarray:
    """``n`` non-decreasing microsecond timestamps after ``start_us`` over
    about ``span_us``; a ``tie_share`` of them repeat their predecessor.
    Gaps are drawn in whole microseconds, so almost none fall on a second."""
    mean_gap = max(2, span_us // max(n, 1))
    gaps = rng.integers(1, 2 * mean_gap, size=n, dtype=np.int64)
    gaps[rng.random(n) < tie_share] = 0
    gaps[0] = max(gaps[0], 1)     # strictly after everything before start_us
    return start_us + np.cumsum(gaps)


def _orders_table(ids: np.ndarray, ts_us: np.ndarray,
                  rng: np.random.Generator) -> pa.Table:
    n = len(ids)
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "updated_at": pa.array(ts_us, pa.timestamp("us")),
        "customer_id": pa.array(rng.integers(1, 50_000, n), pa.int64()),
        "status": pa.array(STATUSES[rng.integers(0, len(STATUSES), n)]),
        "amount": pa.array(np.round(rng.gamma(2.0, 40.0, n), 2)),
        "quantity": pa.array(rng.integers(1, 20, n).astype(np.int32)),
    })


def _events_table(ids: np.ndarray, ts_us: np.ndarray,
                  rng: np.random.Generator) -> pa.Table:
    n = len(ids)
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "event_ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1, 200_000, n), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "payload_bytes": pa.array(rng.integers(64, 4096, n).astype(np.int32)),
    })


def _write(table: pa.Table, directory: str, name: str) -> str:
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, name)
    pq.write_table(table, path, compression="snappy")
    return path


class CdcSource:
    """An append-only change table on disk: a directory of parquet files,
    one per increment, each row one version ``(id, ts)`` of a source row.

    ``kind`` picks the columns: ``"orders"`` (a mutable row: with an
    ``update_share``, increments re-version older ids under a fresh
    timestamp) or ``"events"`` (an append-only log: give it no updates, so
    ids and timestamps both increase)."""

    def __init__(self, directory: str, kind: str, shape: CdcShape,
                 rng: np.random.Generator):
        if kind not in ("orders", "events"):
            raise ValueError(f"unknown CDC source kind {kind!r}")
        self.directory = directory
        self.kind = kind
        self.shape = shape
        self.rng = rng
        self.max_id = 0
        self.max_ts_us = BASE_US
        self.files = 0
        self.bytes = 0

    def _append(self, ids: np.ndarray, ts_us: np.ndarray) -> None:
        make = _orders_table if self.kind == "orders" else _events_table
        path = _write(make(ids, ts_us, self.rng), self.directory,
                      f"part-{self.files:05d}.parquet")
        self.files += 1
        self.bytes += os.path.getsize(path)
        self.max_ts_us = int(ts_us[-1])

    def write_history(self) -> None:
        """The first ``history_rows`` versions, all inserts, over
        ``HISTORY_DAYS`` days, split into ``HISTORY_FILES`` files."""
        s = self.shape
        n = s.history_rows
        ts = _timestamps(self.rng, n, self.max_ts_us,
                         HISTORY_DAYS * DAY_US, s.tie_share)
        ids = np.arange(1, n + 1, dtype=np.int64)
        self.max_id = n
        for chunk in np.array_split(np.arange(n), HISTORY_FILES):
            self._append(ids[chunk], ts[chunk])

    def write_increment(self) -> None:
        """One increment of ``increment_rows`` versions after everything
        already written: an ``update_share`` of them update distinct older
        ids, the rest insert new ids, interleaved in time."""
        s = self.shape
        n = s.increment_rows
        n_upd = int(round(n * s.update_share))
        n_ins = n - n_upd
        new_ids = np.arange(self.max_id + 1, self.max_id + 1 + n_ins, dtype=np.int64)
        ids = new_ids
        if n_upd:
            upd_ids = self.rng.choice(self.max_id, size=n_upd, replace=False) + 1
            ids = np.concatenate([new_ids, upd_ids.astype(np.int64)])
            ids = ids[self.rng.permutation(n)]
        ts = _timestamps(self.rng, n, self.max_ts_us, INCREMENT_SPAN_US,
                         s.tie_share)
        self.max_id += n_ins
        self._append(ids, ts)


# ---------------------------------------------------------------------------
# Corpus
# ---------------------------------------------------------------------------

# The package's quality score rewards a stopword ratio near 0.25, so the
# generated prose carries that share of these words.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
CORPUS_SOURCES = 8
MIN_WORDS, MAX_WORDS = 60, 160


@dataclass(frozen=True)
class CorpusShape:
    """Traffic dimensions of the curation corpus (shares of ``docs``)."""

    docs: int
    exact_dup_share: float
    near_dup_share: float
    low_quality_share: float
    eval_overlap_share: float
    eval_docs: int
    vocab: int = 5000


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=n)
    words = {"".join(rng.choice(letters, size=k)) for k in lens}
    words.difference_update(STOPWORDS)
    return np.array(sorted(words))


class _Prose:
    def __init__(self, rng: np.random.Generator, vocab: np.ndarray):
        self.rng = rng
        self.vocab = vocab
        ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
        p = 1.0 / ranks ** 1.1               # Zipf-like word frequencies
        self.p = p / p.sum()

    def words(self, n: int) -> list[str]:
        rng = self.rng
        content = self.vocab[rng.choice(len(self.vocab), size=n, p=self.p)]
        stop = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), size=n)]
        return list(np.where(rng.random(n) < 0.25, stop, content))


def write_corpus(out_dir: str, shape: CorpusShape,
                 rng: np.random.Generator) -> dict[str, str]:
    """Write ``docs.parquet`` (doc_id, text, source) and ``eval.parquet``
    (doc_id, text). The doc mix, by share of ``shape.docs``:

    - exact duplicates: verbatim copies of an earlier clean doc;
    - near duplicates: an earlier clean doc with 3% of its words replaced;
    - low quality: one short phrase repeated, failing the repetition gate;
    - eval overlap: an eval doc's text with a short clean prefix, so most of
      its word 3-gram shingles appear in the eval set;
    - the rest clean, unique prose.
    """
    prose = _Prose(rng, _vocabulary(rng, shape.vocab))
    lo, hi = MIN_WORDS, MAX_WORDS
    eval_texts = [" ".join(prose.words(int(rng.integers(lo, hi))))
                  for _ in range(shape.eval_docs)]

    n = shape.docs
    kinds = rng.choice(
        5, size=n,
        p=[1 - shape.exact_dup_share - shape.near_dup_share
           - shape.low_quality_share - shape.eval_overlap_share,
           shape.exact_dup_share, shape.near_dup_share,
           shape.low_quality_share, shape.eval_overlap_share])
    kinds[0] = 0                 # duplicates need an earlier clean doc
    texts: list[str] = []
    clean: list[int] = []
    for i, k in enumerate(kinds):
        if k == 0:
            texts.append(" ".join(prose.words(int(rng.integers(lo, hi)))))
            clean.append(i)
        elif k == 1:
            texts.append(texts[clean[int(rng.integers(len(clean)))]])
        elif k == 2:
            w = texts[clean[int(rng.integers(len(clean)))]].split(" ")
            for j in rng.choice(len(w), size=max(1, len(w) * 3 // 100),
                                replace=False):
                w[j] = prose.words(1)[0]
            texts.append(" ".join(w))
        elif k == 3:
            phrase = " ".join(prose.words(3))
            texts.append(" ".join([phrase] * int(rng.integers(20, 50))))
        else:
            prefix = " ".join(prose.words(8))
            texts.append(prefix + " "
                         + eval_texts[int(rng.integers(len(eval_texts)))])
    # doc ids are a seeded permutation so the canonical (min-id) copy of a
    # duplicate is not always the first one written
    doc_ids = rng.permutation(n).astype(np.int64) + 1
    sources = np.array([f"src{j}" for j in range(CORPUS_SOURCES)])
    weights = 1.0 / np.arange(1, CORPUS_SOURCES + 1)
    src = sources[rng.choice(CORPUS_SOURCES, size=n, p=weights / weights.sum())]
    os.makedirs(out_dir, exist_ok=True)
    docs_path = _write(pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "source": pa.array(src),
    }), out_dir, "docs.parquet")
    eval_path = _write(pa.table({
        "doc_id": pa.array(np.arange(1, shape.eval_docs + 1) + 10 * n, pa.int64()),
        "text": pa.array(eval_texts, pa.string()),
    }), out_dir, "eval.parquet")
    return {"docs": docs_path, "eval": eval_path}
