"""Checks of the program's outputs against results computed apart from
it: window counts come from numpy over the generated inputs, the DGIM
estimate from this file's own closed form, never from the package."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd

def dgim_closed_form(n) -> np.ndarray:
    """DGIM estimate after ``n`` in-horizon 1-bit inserts (Java mode).

    With nothing expired, the buckets spell ``n`` in zeroless binary
    (each power of two once or twice), so the oldest bucket is half
    the highest power of two not above ``n + 1``.  The estimate counts
    every bucket but half the oldest, rounded up."""
    out = []
    for c in np.asarray(n, dtype=np.int64).tolist():
        oldest = (1 << ((c + 1).bit_length() - 1)) // 2
        out.append(0 if c == 0 else c - oldest + (oldest + 1) // 2)
    return np.asarray(out, dtype=np.int64)


def _label(sec: np.ndarray) -> np.ndarray:
    """Epoch seconds as ``YYYY-MM-DD HH:MM:SS`` (UTC)."""
    iso = np.datetime_as_string(np.asarray(sec).astype("datetime64[s]"))
    return np.char.replace(iso, "T", " ").astype(object)


def expected_windows(
    ts_sec: np.ndarray,
    bits: np.ndarray,
    size: int,
    slide: int | None = None,
    key: np.ndarray | None = None,
) -> pd.DataFrame:
    """Exact 1-bit count and row count per event-time window.

    Tumbling windows (``slide`` None) are keyed by ``window_end``;
    hopping windows by ``window_start, window_end``; ``key`` adds a
    ``user_id`` column to the group."""
    ts_sec = np.asarray(ts_sec, dtype=np.int64)
    bits = np.asarray(bits, dtype=np.int64)
    step = slide or size
    first = ts_sec // step * step
    starts = np.concatenate([first - k * step for k in range(size // step)])
    rep = size // step
    cols = {"ws": starts, "bit": np.tile(bits, rep)}
    if key is not None:
        cols["user_id"] = np.tile(np.asarray(key, dtype=np.int64), rep)
    df = pd.DataFrame(cols)
    groups = ["ws"] + (["user_id"] if key is not None else [])
    agg = (
        df.groupby(groups, sort=True)["bit"]
        .agg(exact_count="sum", n_rows="size")
        .reset_index()
    )
    agg["window_end"] = _label(agg["ws"].to_numpy() + size)
    if slide is not None:
        agg["window_start"] = _label(agg["ws"].to_numpy())
    return agg.drop(columns="ws")


def compare(
    expected: pd.DataFrame, got: pd.DataFrame, keys: list[str], estimate: str
) -> list[str]:
    """Differences between an operator's output and the expectation.

    ``estimate`` is ``"closed"`` when the estimate must equal the
    closed form of the exact count (every single-sketch path: no
    window outgrows the sketch horizon), or ``"bound"`` for merged
    sketches, which must satisfy ``C/2 - 1 <= E <= 3C/2 + 1``."""
    errors = []
    dup = got.duplicated(keys)
    if dup.any():
        errors.append(f"{int(dup.sum())} duplicate windows in output")
    m = expected.merge(
        got.drop_duplicates(keys), on=keys, how="outer",
        suffixes=("", "_got"), indicator=True,
    )
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum())
    if missing:
        errors.append(f"{missing} expected windows missing")
    if extra:
        errors.append(f"{extra} unexpected windows")
    both = m[m["_merge"] == "both"]
    for col in ("exact_count", "n_rows"):
        if col + "_got" in both:
            bad = both[col].astype("int64") != both[col + "_got"].astype("int64")
            if bad.any():
                errors.append(f"{int(bad.sum())} windows with wrong {col}")
    exact = both["exact_count"].to_numpy(dtype=np.int64)
    est = both["count_estimate"].to_numpy(dtype=np.int64)
    if estimate == "closed":
        bad = est != dgim_closed_form(exact)
        if bad.any():
            errors.append(f"{int(bad.sum())} estimates differ from the closed form")
    else:
        bad = (2 * est < exact - 2) | (2 * est > 3 * exact + 2)
        if bad.any():
            errors.append(f"{int(bad.sum())} estimates outside C/2-1..3C/2+1")
    return errors


def read_upsert_log(out_dir: str) -> tuple[pd.DataFrame, int]:
    """The sink's keyed JSON records compacted to the last value per key
    (a compacted upsert topic), plus the count of records that repeat
    a key within one batch."""
    import duckdb

    files = sorted(glob.glob(os.path.join(out_dir, "*.json")))
    if not files:
        return pd.DataFrame(), 0
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE log AS SELECT * FROM read_json(?, format='newline_delimited', "
            "columns={'key': 'VARCHAR', 'value': 'VARCHAR', 'batch_id': 'BIGINT'})",
            [files],
        )
        repeats = con.execute(
            "SELECT count(*) - count(DISTINCT (key, batch_id)) FROM log"
        ).fetchone()[0]
        final = con.execute(
            "SELECT key, arg_max(value, batch_id) AS value, count(*) AS records "
            "FROM log GROUP BY key"
        ).df()
    finally:
        con.close()
    rows = pd.json_normalize([json.loads(v) for v in final["value"]])
    rows["records"] = final["records"].to_numpy()
    return rows, int(repeats)
