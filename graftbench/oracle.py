"""DuckDB oracles for the program's outputs, run outside timed sections.

A mismatch is counted, never raised: the run goes on and the counts land
in the result (``failed``, duplicate and missing row versions).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass
from datetime import datetime

import duckdb
import pyarrow.parquet as pq


def _parquet_glob(directory: str) -> str | None:
    files = glob.glob(os.path.join(directory, "**", "*.parquet"), recursive=True)
    return os.path.join(directory, "**", "*.parquet") if files else None


def read_watermark(state_root: str, source: str, table: str, target: str) -> tuple:
    """The committed cursor ``(last_timestamp, last_id)`` from the store's
    JSON document, read as a file so the check does not go through the
    code it checks."""
    key = "_".join(p.replace(":", "_").replace(".", "_").replace("/", "_")
                   for p in (source, table, target))
    with open(os.path.join(state_root, "watermarks", "v2", f"{key}.json")) as f:
        ms = json.load(f)["mysql_state"]
    return ms.get("last_timestamp"), ms.get("last_id")


@dataclass
class SyncCheck:
    expected_new: int         # source versions newly past the oracle cursor
    added_distinct: int       # distinct versions the sync added to the target
    dup_new: int              # versions the sync loaded that were already there
    dup_allowed: int          # re-loads the committed watermark explains (below)
    missing: int              # source versions absent from the target
    watermark_ok: bool

    @property
    def ok(self) -> bool:
        return (self.added_distinct == self.expected_new and self.missing == 0
                and self.dup_new <= self.dup_allowed and self.watermark_ok)


class SyncOracle:
    """Source change table vs Spark target for one synced table. A row
    version is ``(id, ts_col)``; ``keyset`` is the cursor order of the
    table's CDC strategy (``(ts_col, "id")`` for hybrid, ``("id",)`` for
    id_only).

    The committed watermark stores its timestamp in whole seconds, so the
    next extraction re-selects the already-loaded versions that lie in the
    cursor's last second. That known defect is allowed for exactly: a sync
    may re-load the versions at or below the previous true position that
    the previous committed watermark still selects (``dup_allowed``), and
    every re-load beyond those fails the check. All re-loads are counted
    in ``duplicates()`` either way."""

    def __init__(self, source_dir: str, target_dir: str, ts_col: str,
                 keyset: tuple[str, ...]):
        self.source_dir = source_dir
        self.target_dir = target_dir
        self.ts_col = ts_col
        self.keyset = keyset
        self.con = duckdb.connect()
        self.cursor: tuple | None = None       # true position: max source version
        self.committed: tuple | None = None    # the program's watermark, as keyset values
        self.watermark: tuple | None = None
        self.total = 0
        self.distinct = 0
        self.missing = 0

    def _after(self, bound: tuple | None) -> tuple[str, list]:
        """Keyset predicate ``keyset > bound`` as SQL, with its parameters."""
        if bound is None:
            return "TRUE", []
        terms, params = [], []
        for i, col in enumerate(self.keyset):
            eq = [f"{c} = ?" for c in self.keyset[:i]]
            terms.append("(" + " AND ".join(eq + [f"{col} > ?"]) + ")")
            params.extend(bound[:i + 1])
        return " OR ".join(terms), params

    def _keyset_values(self, watermark: tuple) -> tuple | None:
        """The committed ``(last_timestamp, last_id)`` as keyset values."""
        ts, last_id = watermark
        vals = tuple((datetime.fromisoformat(ts) if ts else None)
                     if c == self.ts_col else last_id for c in self.keyset)
        return None if None in vals else vals

    def check(self, watermark: tuple) -> SyncCheck:
        """Compare after one sync. ``watermark`` is the committed
        ``(last_timestamp, last_id)``; it must not move backwards."""
        src = f"read_parquet('{_parquet_glob(self.source_dir)}')"
        ver = f"id, {self.ts_col}"
        past, params = self._after(self.cursor)
        expected = self.con.execute(
            f"SELECT count(*) FROM {src} WHERE {past}", params).fetchone()[0]
        allowed = 0
        if self.cursor is not None and self.committed is not None:
            selected, wm_params = self._after(self.committed)
            allowed = self.con.execute(
                f"SELECT count(*) FROM {src} WHERE NOT ({past}) AND ({selected})",
                params + wm_params).fetchone()[0]
        cursor = self.con.execute(
            f"SELECT {', '.join(self.keyset)} FROM {src} "
            f"ORDER BY {', '.join(c + ' DESC' for c in self.keyset)} LIMIT 1"
        ).fetchone()
        tgt_glob = _parquet_glob(self.target_dir)
        if tgt_glob is None:
            total = distinct = 0
            missing = self.con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
        else:
            tgt = f"read_parquet('{tgt_glob}')"
            total, distinct = self.con.execute(
                f"SELECT count(*), count(DISTINCT ({ver})) FROM {tgt}").fetchone()
            missing = self.con.execute(
                f"SELECT count(*) FROM {src} s ANTI JOIN {tgt} t "
                f"USING (id, {self.ts_col})").fetchone()[0]
        dup_new = (total - distinct) - (self.total - self.distinct)
        wm_key = (watermark[0] or "", -1 if watermark[1] is None else int(watermark[1]))
        wm_ok = self.watermark is None or wm_key >= self.watermark
        res = SyncCheck(int(expected), int(distinct - self.distinct),
                        int(dup_new), int(allowed), int(missing), wm_ok)
        self.cursor = tuple(cursor) if cursor else self.cursor
        self.committed = self._keyset_values(watermark)
        self.watermark = wm_key
        self.total, self.distinct = int(total), int(distinct)
        self.missing = int(missing)
        return res

    def close(self) -> None:
        self.con.close()

    def duplicates(self) -> int:
        """Row versions present in the target more than once (extra copies)."""
        return self.total - self.distinct


def parquet_rows(paths) -> int:
    """Rows in the given parquet files, from their footers."""
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def manifest_paths(manifest_dir: str) -> set[str]:
    g = _parquet_glob(manifest_dir)
    if g is None:
        return set()
    with duckdb.connect() as con:
        return {r[0] for r in con.execute(
            f"SELECT path FROM read_parquet('{g}')").fetchall()}


# ---------------------------------------------------------------------------
# Curation
# ---------------------------------------------------------------------------

FUNNEL = ("input", "exact_dedup", "near_dedup", "quality", "decontaminated",
          "source_capped")


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams, as the package's ``word_shingles`` forms them
    (split on single spaces; a doc shorter than ``n`` is one shingle)."""
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}


def check_curation(counts: dict, out_dir: str, eval_path: str,
                   threshold: float, reference: dict | None) -> list[str]:
    """Violations of the curation invariants (empty when all hold)."""
    bad = []
    funnel = [counts.get(k) for k in FUNNEL]
    if None in funnel or any(a < b for a, b in zip(funnel, funnel[1:])):
        bad.append(f"funnel not monotone: {counts}")
    if counts.get("packed") != counts.get("source_capped"):
        bad.append("packed count differs from the capped count")
    with duckdb.connect() as con:
        g = _parquet_glob(out_dir)
        out = [] if g is None else [
            r[0] for r in con.execute(f"SELECT text FROM read_parquet('{g}')").fetchall()]
        eval_texts = [r[0] for r in con.execute(
            f"SELECT text FROM read_parquet('{eval_path}')").fetchall()]
    if len(out) != counts.get("packed"):
        bad.append(f"output has {len(out)} docs, packed count {counts.get('packed')}")
    if len(set(out)) != len(out):
        bad.append(f"{len(out) - len(set(out))} exact-duplicate texts survive")
    eval_sh = set().union(*(shingles(t) for t in eval_texts))
    over = 0
    for t in out:
        sh = shingles(t)
        if round(len(sh & eval_sh) / len(sh), 6) >= threshold:
            over += 1
    if over:
        bad.append(f"{over} output docs at or over the contamination threshold")
    if reference is not None and counts != reference:
        bad.append(f"counts differ between runs on one input: {counts} vs {reference}")
    return bad
