"""Seeded input generators for the three workloads.

Everything here is plain numpy: the benchmark makes its inputs without
calling the package under test, so the checks in ``check.py`` can
recompute expected results from the same arrays.
"""

from __future__ import annotations

import os

import numpy as np

# 2024-01-01T00:00:00Z, the start of the event-time axis of the backlog
BACKLOG_START_US = 1_704_067_200_000_000
EVENTS_PER_S = 50
DENSITY_PERIOD_S = 15
MALFORMED_FRAC = 0.01

# value codes: 0 -> "0", 1 -> "1", 2 -> "x", 3 -> "", 4 -> null
VALUE_TEXT = ('"0"', '"1"', '"x"', '""', "null")
# timestamp codes: 0 -> the ISO text, 1 -> "not-a-time", 2 -> null
BAD_TS_TEXT = ('"not-a-time"', "null")


def iso_us(ts_us: np.ndarray) -> np.ndarray:
    """Reference timestamp text ``YYYY-MM-DDTHH:MM:SS.ffffff`` (UTC)."""
    return np.datetime_as_string(ts_us.astype("datetime64[us]"), unit="us")


def density_bits(rng: np.random.Generator, offset_us: np.ndarray) -> np.ndarray:
    """1-bits drawn at density 0.1 and 0.8 alternating every 15 s of
    event time, as the reference's traffic generator does."""
    phase = (offset_us // (DENSITY_PERIOD_S * 1_000_000)) % 2
    density = np.where(phase == 0, 0.1, 0.8)
    return (rng.random(len(offset_us)) < density).astype(np.int8)


def backlog_events(seed: int, n_events: int) -> dict:
    """In-order reference-format traffic: ~50 events/s of event time,
    gaps ~ Gauss(20 ms, 5 ms) clipped at 1 ms, ~1% malformed (half a
    bad value, half a bad timestamp)."""
    rng = np.random.default_rng([seed, 1])
    gaps = np.maximum(1000, rng.normal(20_000, 5_000, n_events)).astype(np.int64)
    offset = np.cumsum(gaps) - gaps[0]
    bits = density_bits(rng, offset)
    r = rng.random(n_events)
    bad_value = r < MALFORMED_FRAC / 2
    bad_ts = (r >= MALFORMED_FRAC / 2) & (r < MALFORMED_FRAC)
    value_code = bits.astype(np.int8)
    value_code[bad_value] = rng.integers(2, 5, int(bad_value.sum()))
    ts_code = np.zeros(n_events, dtype=np.int8)
    ts_code[bad_ts] = rng.integers(1, 3, int(bad_ts.sum()))
    return {
        "ts_us": BACKLOG_START_US + offset,
        "value_code": value_code,
        "ts_code": ts_code,
    }


def json_lines(ev: dict, lo: int = 0, hi: int | None = None) -> str:
    """Render events ``lo:hi`` as JSON lines ``{"value","timestamp"}``."""
    hi = len(ev["ts_us"]) if hi is None else hi
    iso = iso_us(ev["ts_us"][lo:hi])
    vals = ev["value_code"][lo:hi]
    tcs = ev["ts_code"][lo:hi]
    out = []
    for v, tc, t in zip(vals.tolist(), tcs.tolist(), iso.tolist()):
        ts = f'"{t}"' if tc == 0 else BAD_TS_TEXT[tc - 1]
        out.append(f'{{"value": {VALUE_TEXT[v]}, "timestamp": {ts}}}\n')
    return "".join(out)


def file_bounds(n_events: int, n_files: int) -> np.ndarray:
    """Event index where each backlog file starts, and the end."""
    return np.linspace(0, n_events, n_files + 1).astype(int)


def backlog_file_name(i: int) -> str:
    return f"part-{i:05d}.json"


def write_backlog(path: str, ev: dict, n_files: int) -> list[str]:
    """Split the backlog into ``n_files`` event-time-ordered JSON files.
    Modification times increase with the file index, because the file
    stream source replays files in modification-time order."""
    os.makedirs(path, exist_ok=True)
    bounds = file_bounds(len(ev["ts_us"]), n_files)
    files = []
    for i in range(n_files):
        fp = os.path.join(path, backlog_file_name(i))
        with open(fp, "w") as f:
            f.write(json_lines(ev, bounds[i], bounds[i + 1]))
        os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))
        files.append(fp)
    return files


# ----------------------------------------------------------------------
# stream_live: the open-loop schedule
# ----------------------------------------------------------------------
OUT_OF_ORDER_FRAC = 0.02
# a held-back event is written 5..30 files after its own (0.5-3 s at a
# 100 ms period): always well inside the 10 s watermark
HOLD_FILES = (5, 30)


def live_plan(seed: int, n_files: int, per_file: int, period_us: int) -> dict:
    """Event schedule of the live generator, relative to its start.

    File ``i`` is due at ``(i + 1) * period_us``; its own events are
    created evenly over the period before that.  About 2% of events
    are held back and written with a later file, keeping their
    creation stamp, so they arrive out of order."""
    rng = np.random.default_rng([seed, 2])
    n = n_files * per_file
    own_file = np.repeat(np.arange(n_files), per_file)
    slot = np.tile(np.arange(per_file), n_files)
    created = own_file * period_us + (slot + 1) * period_us // per_file
    bits = density_bits(rng, created)
    held = rng.random(n) < OUT_OF_ORDER_FRAC
    delay = rng.integers(HOLD_FILES[0], HOLD_FILES[1] + 1, n)
    file_idx = np.where(held, np.minimum(own_file + delay, n_files - 1), own_file)
    order = np.lexsort((created, file_idx))
    return {
        "file_idx": file_idx[order],
        "created_us": created[order],
        "bit": bits[order],
        "due_us": (np.arange(n_files) + 1) * period_us,
    }


def live_file_name(i) -> str:
    """``live-00042.json`` for generator file 42, ``live-<i>.json`` for a
    named file such as a primer."""
    return f"live-{i}.json" if isinstance(i, str) else f"live-{int(i):05d}.json"


def live_text(created_us: np.ndarray, bits: np.ndarray, start_us: int) -> str:
    """JSON lines of events created ``created_us`` after ``start_us``."""
    iso = iso_us(start_us + created_us)
    return "".join(
        f'{{"value": "{b}", "timestamp": "{t}"}}\n'
        for b, t in zip(bits.tolist(), iso.tolist())
    )


def live_file_text(plan: dict, i: int, start_us: int) -> str:
    """JSON lines of live file ``i`` for a generator started at
    ``start_us`` (epoch microseconds)."""
    sel = plan["file_idx"] == i
    return live_text(plan["created_us"][sel], plan["bit"][sel], start_us)


def live_primer(seed: int, n_files: int, per_file: int, period_us: int) -> dict:
    """Events of ``n_files`` primer files, created one period apart over
    the periods ending at the primer stamp (offsets are negative)."""
    rng = np.random.default_rng([seed, 4])
    n = n_files * per_file
    created = -n_files * period_us + (np.arange(n) + 1) * period_us // per_file
    return {
        "file_idx": np.repeat(np.arange(n_files), per_file),
        "created_us": created,
        "bit": density_bits(rng, created - created[0]),
    }


# ----------------------------------------------------------------------
# backfill_history: a stored sparse history shaped like the events table
# ----------------------------------------------------------------------
HISTORY_START_US = BACKLOG_START_US
HISTORY_USERS = 1500


def history_events(seed: int, n_rows: int, per_minute: float = 2.0) -> dict:
    """``event_id, ts, user_id`` at ~``per_minute`` events per minute
    (exponential gaps) with ~1,500 users; the 1-bit is
    ``event_id % 2``."""
    rng = np.random.default_rng([seed, 3])
    gaps = rng.exponential(60e6 / per_minute, n_rows).astype(np.int64)
    ts_us = HISTORY_START_US + np.cumsum(gaps)
    event_id = rng.permutation(n_rows).astype(np.int64)
    user_id = rng.integers(0, HISTORY_USERS, n_rows).astype(np.int64)
    return {"event_id": event_id, "ts_us": ts_us, "user_id": user_id}


def write_history(path: str, hist: dict) -> None:
    """Store the history as one parquet file (timestamp[us, UTC])."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array(hist["event_id"]),
            "ts": pa.array(hist["ts_us"], type=pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(hist["user_id"]),
        }
    )
    pq.write_table(table, path)
