"""In-process replay of a workload's per-window inputs through the
public functions of ``dgim``, timing each of them.

Two shapes, both over 60 s tumbling windows:

- stream: a window's 1-bits arrive micro-batch by micro-batch; each
  batch (sorted by time) goes through ``DGIM.bulk_add_ones`` and the
  sketch round-trips through ``to_flat``/``from_flat`` between
  batches, as state-store state does.
- two-phase: a window's rows are dealt round-robin to four partitions;
  each partition builds a partial sketch, the partials pass through
  the flat codec and are folded with ``DGIM.merge``.
"""

from __future__ import annotations

import time

import numpy as np

PARTITIONS = 4


def _windows(ts_sec, bits, batch, size):
    """Per window: its 1-bit timestamps, micro-batch ids and arrival
    indices, ordered by batch and, within a batch, by time."""
    ones = np.flatnonzero(np.asarray(bits) == 1)
    ts = np.asarray(ts_sec, dtype=np.int64)[ones]
    b = np.asarray(batch, dtype=np.int64)[ones]
    win = ts // size
    order = np.lexsort((ts, b, win))
    ts, b, win, idx = ts[order], b[order], win[order], ones[order]
    cuts = np.flatnonzero(np.diff(win)) + 1
    for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(ts)]):
        yield ts[lo:hi], b[lo:hi], idx[lo:hi]


def _replay(cls, ts_sec, bits, batch, size, clock):
    """Run both shapes with sketch class ``cls``; ``clock[name]``
    accumulates seconds spent in each dgim function."""
    pc = time.perf_counter
    finals, bulk_calls, fallbacks = [], 0, 0
    for ts, b, idx in _windows(ts_sec, bits, batch, size):
        # stream shape
        sk = cls(size)
        cuts = np.flatnonzero(np.diff(b)) + 1
        for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(ts)]):
            t0 = pc()
            sk = cls.from_flat(size, sk.to_flat())
            t1 = pc()
            sk.bulk_add_ones(ts[lo:hi])
            t2 = pc()
            clock["flat_codec"] += t1 - t0
            clock["bulk_add"] += t2 - t1
            bulk_calls += 1
            fallbacks += getattr(sk, "fell_back", 0)
        t0 = pc()
        sk.estimate()
        clock["estimate"] += pc() - t0
        finals.append(len(sk.buckets))
        # two-phase shape
        part = idx % PARTITIONS
        flats = []
        for p in range(PARTITIONS):
            sel = ts[part == p]
            if len(sel):
                psk = cls(size)
                t0 = pc()
                psk.bulk_add_ones(np.sort(sel))
                t1 = pc()
                flats.append(psk.to_flat())
                clock["bulk_add"] += t1 - t0
                clock["flat_codec"] += pc() - t1
                bulk_calls += 1
                fallbacks += getattr(psk, "fell_back", 0)
        t0 = pc()
        acc = cls.from_flat(size, flats[0])
        rest = [cls.from_flat(size, f) for f in flats[1:]]
        t1 = pc()
        for other in rest:
            acc.merge(other)
        t2 = pc()
        acc.estimate()
        clock["flat_codec"] += t1 - t0
        clock["merge"] += t2 - t1
        clock["estimate"] += pc() - t2
    return finals, bulk_calls, fallbacks


def replay_dgim(ts_sec, bits, batch, size: int = 60) -> dict:
    """Per-layer dgim metrics for a workload's valid events: event
    seconds, bits and the micro-batch each arrived in, in arrival
    order."""
    from flink_window_dgim_traffic_spark.dgim import DGIM

    class CountingDGIM(DGIM):
        """Marks a bulk insert that fell back to sequential ``add``."""

        __slots__ = ("fell_back", "_in_bulk")

        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.fell_back = 0
            self._in_bulk = False

        def bulk_add_ones(self, ts_sorted):
            self.fell_back, self._in_bulk = 0, True
            try:
                super().bulk_add_ones(ts_sorted)
            finally:
                self._in_bulk = False

        def add(self, ts):
            if self._in_bulk:
                self.fell_back = 1
            super().add(ts)

    clock = dict.fromkeys(("bulk_add", "merge", "estimate", "flat_codec"), 0.0)
    finals, _, _ = _replay(DGIM, ts_sec, bits, batch, size, clock)
    _, calls, fallbacks = _replay(
        CountingDGIM, ts_sec, bits, batch, size, dict.fromkeys(clock, 0.0)
    )
    out = {f"dgim.{k}_s": v for k, v in clock.items()}
    out["dgim.closed_form_share"] = 1 - fallbacks / max(calls, 1)
    out["dgim.buckets_per_sketch"] = float(np.mean(finals)) if finals else 0.0
    return out
