"""Equivalence proof for the r13 batch paths in the DGIM sketch.

1. ``bulk_add_ones`` (closed-form zeroless-binary batch insert) must
   leave state — buckets WITH timestamps, latest_ts, and every
   subsequent estimate — bit-identical to per-element :meth:`DGIM.add`
   replay, across in-order streams, multi-batch splits, out-of-order
   batches (fallback path), and expiring windows (fallback path).
2. The O(1) ``_expire`` guard (incrementally maintained ``_min_ts``
   lower bound) must never let an expirable bucket survive: the bound
   may be stale LOW (wasted scan), never high.

No Spark dependency.
"""

import random

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_window_dgim_traffic_spark.dgim import (
    DGIM,
    MODE_JAVA,
    MODE_PYFLINK,
    _zeroless_sizes,
)


def _state(sk: DGIM):
    return (sorted(map(tuple, sk.buckets)), list(map(tuple, sk.buckets)),
            sk.latest_ts)


def _replay(ts_batches, window, mode=MODE_JAVA):
    sk = DGIM(window, mode=mode)
    for batch in ts_batches:
        for t in batch:
            sk.add(t)
    return sk


def _bulk(ts_batches, window, mode=MODE_JAVA):
    sk = DGIM(window, mode=mode)
    for batch in ts_batches:
        sk.bulk_add_ones(batch)
    return sk


def test_zeroless_sizes_matches_replay_structure():
    sk = DGIM(1 << 60)
    for n in range(1, 300):
        sk.add(n)
        assert [b[1] for b in reversed(sk.buckets)] == _zeroless_sizes(n)


@settings(max_examples=300, deadline=None, derandomize=True)
@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=120),
    st.integers(min_value=1, max_value=6),
    st.sampled_from([MODE_JAVA, MODE_PYFLINK]),
)
def test_bulk_equals_sequential_in_order_batches(deltas, n_batches, mode):
    # strictly in-order stream split into consecutive batches — the
    # closed form's home turf (tumbling/hop window replay shape):
    # window wide enough that nothing expires
    ts = []
    cur = 0
    for d in deltas:
        cur += d
        ts.append(cur)
    window = max(cur + 1, 1)
    cuts = sorted(random.Random(len(ts) * 31 + n_batches).sample(
        range(len(ts) + 1), min(n_batches - 1, len(ts))))
    batches, prev = [], 0
    for c in cuts + [len(ts)]:
        batches.append(ts[prev:c])
        prev = c
    a = _replay(batches, window, mode)
    b = _bulk(batches, window, mode)
    assert _state(a) == _state(b)
    assert a.estimate() == b.estimate()


@settings(max_examples=300, deadline=None, derandomize=True)
@given(
    st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=80),
    st.integers(min_value=1, max_value=60),
    st.integers(min_value=1, max_value=4),
    st.sampled_from([MODE_JAVA, MODE_PYFLINK]),
)
def test_bulk_equals_sequential_with_expiry_and_disorder(
    ts_list, window, n_batches, mode
):
    # arbitrary timestamps and small windows: expiry fires, batches
    # arrive out of order — bulk_add_ones must detect the broken
    # preconditions and fall back to the exact sequential loop.
    # Within a batch the processors always sort, so sort each batch.
    k = max(1, len(ts_list) // n_batches)
    batches = [
        sorted(ts_list[i : i + k]) for i in range(0, len(ts_list), k)
    ]
    a = _replay(batches, window, mode)
    b = _bulk(batches, window, mode)
    assert _state(a) == _state(b)
    assert a.estimate() == b.estimate()


@settings(max_examples=200, deadline=None, derandomize=True)
@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=100),
    st.integers(min_value=1, max_value=64),
)
def test_expire_guard_never_keeps_expired_buckets(ts_list, window):
    # the O(1) guard invariant: after every add, no surviving bucket
    # is out of window, and _min_ts never exceeds the true minimum
    sk = DGIM(window)
    for t in ts_list:
        sk.add(t)
        assert all(sk.latest_ts - ts < window for ts, _ in sk.buckets)
        if sk.buckets:
            assert sk._min_ts <= min(ts for ts, _ in sk.buckets)


def test_bulk_then_flat_roundtrip_then_bulk():
    # state-store shape: flatten/restore between batches (the TWS
    # processors' actual lifecycle) must keep the closed form exact
    window = 1 << 40
    seq = DGIM(window)
    flat = DGIM(window).to_flat()
    rng = random.Random(11)
    cur = 0
    for _ in range(5):
        batch = []
        for _ in range(rng.randint(0, 40)):
            cur += rng.randint(0, 3)
            batch.append(cur)
        for t in batch:
            seq.add(t)
        sk = DGIM.from_flat(window, list(flat))
        sk.bulk_add_ones(batch)
        flat = sk.to_flat()
    assert DGIM.from_flat(window, list(flat)).to_flat() == seq.to_flat()


def test_bulk_falls_back_when_state_saw_expiry():
    # a state whose sizes are no longer zeroless (expiry removed the
    # oldest bucket) must take the sequential path and stay exact
    window = 8
    a, b = DGIM(window), DGIM(window)
    warm = [0, 1, 2, 3, 4, 10]  # ts=10 expires the early buckets
    for t in warm:
        a.add(t)
        b.add(t)
    batch = [11, 12, 13]
    for t in batch:
        a.add(t)
    b.bulk_add_ones(batch)
    assert _state(a) == _state(b)


def test_bulk_empty_batch_is_noop():
    sk = DGIM(10)
    sk.add(1)
    before = _state(sk)
    sk.bulk_add_ones([])
    assert _state(sk) == before


def test_bulk_rejects_unsorted_batch():
    # unsorted input used to build wrong buckets without complaint
    # (for [50, 5, 20] in a 10 s window the closed form kept 5 and 20,
    # which sequential add expires behind 50); now it is refused and
    # leaves the sketch untouched
    sk = DGIM(10)
    with pytest.raises(ValueError, match="ascending"):
        sk.bulk_add_ones([50, 5, 20])
    assert sk.buckets == [] and sk.latest_ts == 0
    seq = DGIM(10)
    for t in (5, 20, 50):
        seq.add(t)
    sk.bulk_add_ones(np.array([5, 20, 50]))
    assert _state(sk) == _state(seq)
