"""Output checks: order-insensitive result digests and storage walks.

A digest renders every value to a canonical string (floats to nine
significant digits, timestamps as UTC microseconds, NULL as one
token), hashes each row, and sums the row hashes modulo 2**64, so row
order and partitioning do not change it.  The same function digests a
Spark result, a DuckDB oracle result and a parquet file read back.
"""

from __future__ import annotations

import contextlib
import math
import os

import numpy as np
import pandas as pd

NULL = "<NULL>"


def _fmt(v) -> str:
    if v is None:
        return NULL
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return NULL
        return f"{float(v) + 0.0:.9g}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_fmt(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_fmt(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat(timespec="microseconds")
    return str(v)


def _column(s: pd.Series) -> pd.Series:
    null = s.isna().to_numpy()
    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        out = s.dt.strftime("%Y-%m-%dT%H:%M:%S.%f").to_numpy(object)
    elif pd.api.types.is_float_dtype(s):
        out = np.char.mod("%.9g", s.to_numpy(np.float64) + 0.0).astype(object)
    elif pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
        out = s.astype(str).to_numpy(object)
    else:
        return s.astype(object).map(_fmt)
    out[null] = NULL
    return pd.Series(out, index=s.index)


def digest(pdf: pd.DataFrame) -> dict:
    """{"rows": n, "digest": hex} of a result, independent of row and
    column order."""
    cols = sorted(pdf.columns)
    norm = pd.DataFrame({c: _column(pdf[c]) for c in cols}, columns=cols)
    if len(norm):
        h = pd.util.hash_pandas_object(norm, index=False).to_numpy(np.uint64)
        total = int(h.sum(dtype=np.uint64))
    else:
        total = 0
    head = ",".join(cols)
    return {"rows": len(pdf), "digest": f"{total:016x}:{len(head)}:{head}"}


def spark_digest(df) -> dict:
    return digest(df.toPandas())


def walk(root: str) -> dict[str, int]:
    """{file path: bytes} of every file under ``root``."""
    out: dict[str, int] = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                continue
    return out


class StorageTracker:
    """Counts files added and removed under a root between walks.
    ``data_bytes_added`` counts parquet files only: control files carry
    wall-clock timestamps, so their sizes differ by a few bytes between
    identical runs."""

    def __init__(self, root: str):
        self.root = root
        self.seen = walk(root)
        self.files_added = self.bytes_added = self.files_removed = 0
        self.data_bytes_added = 0

    def update(self) -> None:
        now = walk(self.root)
        for p, size in now.items():
            if p not in self.seen:
                self.files_added += 1
                self.bytes_added += size
                if p.endswith(".parquet"):
                    self.data_bytes_added += size
        self.files_removed += sum(1 for p in self.seen if p not in now)
        self.seen = now

    def live_bytes(self) -> int:
        return sum(self.seen.values())

    def live_files(self) -> int:
        return len(self.seen)

    def live_generations(self) -> int:
        gens = set()
        for p in self.seen:
            parts = p.split(os.sep)
            for i, part in enumerate(parts):
                if part.startswith("_kt_gen="):
                    gens.add(os.sep.join(parts[: i + 1]))
        return len(gens)


@contextlib.contextmanager
def paused(tracker: StorageTracker | None):
    """Files added or removed inside the block are not counted (later
    walks still see them as known)."""
    if tracker is None:
        yield
        return
    names = ("files_added", "bytes_added", "data_bytes_added", "files_removed")
    counts = [getattr(tracker, n) for n in names]
    try:
        yield
    finally:
        tracker.update()
        for n, c in zip(names, counts):
            setattr(tracker, n, c)
