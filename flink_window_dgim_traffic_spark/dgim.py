"""Pure-Python DGIM sketch (Datar-Gionis-Indyk-Motwani sliding-window
bit-counting), time-based variant.

Semantics re-derived from the reference (see SURVEY.md §1.3, §2.3):

- Buckets carry ``(ts, size)`` where ``ts`` is the event-time epoch
  seconds of the *newest* 1-bit the bucket covers and ``size`` is a
  power of two (reference ``Bucket.java:12-13``).
- The bucket list is kept **newest first** (``DGIMAccumulator.java:51``).
- Compaction: while three consecutive equal-size buckets exist at
  ``i, i+1, i+2``, double bucket ``i+1``'s size (keeping its — the
  newer merged bucket's — timestamp) and delete bucket ``i+2``;
  restart the scan from 0 after each merge (``DGIMAccumulator.java:
  120-146``, Java restart behavior is canonical).
- Expiry: drop buckets with ``now - ts >= window_size``
  (``DGIMAccumulator.java:153-161``).
- Estimate (``mode="java"``, canonical — ``DGIMAccumulator.java:63-88``):
  after expiry, 0 if empty; the full size if a single bucket remains;
  otherwise sum of all bucket sizes except the oldest plus the oldest
  halved **rounding up** ``(size + 1) // 2``.
- Estimate (``mode="pyflink"`` — reference ``job.py:37-46``): always
  halves the oldest bucket with **floor** division, even when it is
  the only bucket.
- Accumulator merge (``DGIMAccumulator.java:96-115``): union bucket
  lists, take the max latest-timestamp, sort newest first, re-compact,
  re-expire.  This makes the sketch a valid distributed partial
  aggregate (Spark combine step).

Deliberate deviation from the reference: the post-merge sort uses the
total order ``(-ts, size)`` instead of timestamp-only, so that
``merge`` is deterministic and commutative regardless of operand
order — required for Spark partial aggregation, where combine order is
nondeterministic.  For distinct timestamps this is identical to the
reference's sort.

Second deliberate deviation — expiry clock: :meth:`add` expires
against ``self.latest_ts`` (the max timestamp seen) rather than the
just-inserted timestamp (``DGIMAccumulator.java:55`` expires at the
inserted ts; reference ``job.py:16-21`` expires on EVERY bit, 0s
included, at that bit's ts).  The behaviors differ only for
out-of-order inserts or trailing 0-bits once the in-stream timestamp
spread reaches ``window_size``; monotone expiry keeps the sketch
well-defined under merge, where operand max-timestamps interleave.
Every in-repo call site sorts by ts and estimates at the window end,
where all three definitions coincide (property-tested in
``tests/test_dgim.py``).
"""

from __future__ import annotations

from typing import Iterable, List, Sequence, Tuple

MODE_JAVA = "java"
MODE_PYFLINK = "pyflink"
_MODES = (MODE_JAVA, MODE_PYFLINK)


def _zeroless_sizes(n: int) -> List[int]:
    """OLDEST-FIRST bucket sizes of the expiry-free DGIM state after
    ``n`` sequential 1-bit inserts: the unique zeroless binary
    representation of ``n`` (every digit in {1, 2}; see
    :func:`count_estimate_closed` for the uniqueness argument).  The
    compaction cascade is driven purely by sizes, so any expiry-free
    state's sizes match this exactly."""
    out: List[int] = []
    p = 1
    while n > 0:
        d = 2 if n % 2 == 0 else 1
        out.extend([p] * d)  # newest-first (ascending sizes)
        n = (n - d) // 2
        p <<= 1
    out.reverse()  # oldest-first
    return out


class DGIM:
    """Sliding-window count-of-1-bits sketch over event-time seconds.

    O(log^2 N) space; estimate error bounded by ~50% (the halved
    oldest bucket).  ``window_size`` is in the same unit as the
    timestamps passed to :meth:`add` (the reference uses epoch
    seconds).
    """

    __slots__ = ("window_size", "mode", "buckets", "latest_ts", "_min_ts")

    def __init__(
        self,
        window_size: int,
        mode: str = MODE_JAVA,
        buckets: Iterable[Tuple[int, int]] | None = None,
        latest_ts: int = 0,
    ) -> None:
        if window_size <= 0:
            raise ValueError("window_size must be positive")
        if mode not in _MODES:
            raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")
        self.window_size = window_size
        self.mode = mode
        # list of [ts, size], newest first
        self.buckets: List[List[int]] = [[int(t), int(s)] for t, s in (buckets or [])]
        self.latest_ts = int(latest_ts)
        # Conservative LOWER bound on the oldest bucket timestamp,
        # maintained incrementally so the per-add expiry guard is O(1)
        # instead of a min-scan over the bucket list (VERDICT r12 ask
        # #6: hop/cumulate replay paths expire on most adds, and the
        # r12 min-scan guard made them pay scan + rebuild).  Compaction
        # can delete the true-min bucket, leaving this bound STALE LOW
        # — that direction is safe (at worst one wasted expiry scan,
        # which then re-tightens the bound); it must never exceed the
        # true minimum, or expiry would be skipped.
        self._min_ts = min(
            (b[0] for b in self.buckets), default=None
        )

    # ------------------------------------------------------------------
    # core operations
    # ------------------------------------------------------------------
    def add(self, ts: int) -> None:
        """Record one 1-bit observed at event-time ``ts``."""
        ts = int(ts)
        self.buckets.insert(0, [ts, 1])
        if ts > self.latest_ts:
            self.latest_ts = ts
        if self._min_ts is None or ts < self._min_ts:
            self._min_ts = ts
        self._compact()
        self._expire(self.latest_ts)

    def bulk_add_ones(self, ts_sorted: Sequence[int]) -> None:
        """Add many 1-bits at once — the closed-form batch path for
        the TWS ``DGIMProcessor``, the replay operators and two-phase
        phase 1, bit-identical to calling :meth:`add` per element
        (property-tested in tests/test_dgim_bulk.py).

        ``ts_sorted`` must be ascending; unsorted input raises
        ``ValueError``, because the bucket boundaries below are read
        by position and would silently come out wrong.

        Derivation: with no expiry, the compaction cascade maintains
        the unique ZEROLESS BINARY representation of the total 1-bit
        count (see :func:`count_estimate_closed`), and every bucket
        covers a CONTIGUOUS run of inserts with ``ts`` = the newest
        insert of its run (merges keep the newer operand's timestamp,
        so right run-boundaries are preserved; boundaries only ever
        disappear, never appear, inside the old range).  Hence the
        post-batch bucket list is: sizes = zeroless(n_old + n_new)
        oldest-first, and each bucket's ts is the insert at its right
        boundary — an OLD bucket boundary's recorded ts when the
        boundary falls in the old range, else the new timestamp at
        that position.  O(log n) per batch instead of O(n·log²n).

        Falls back to the exact sequential loop whenever the closed
        form's preconditions do not hold: a batch older than the state
        (min new ts < latest_ts), possible expiry (timestamp spread
        reaching window_size), or a state whose sizes are not the
        zeroless representation (i.e. it has already seen expiry)."""
        n_new = len(ts_sorted)
        if n_new == 0:
            return
        if any(a > b for a, b in zip(ts_sorted, ts_sorted[1:])):
            raise ValueError("bulk_add_ones needs timestamps in ascending order")
        t_min, t_max = int(ts_sorted[0]), int(ts_sorted[-1])
        b = self.buckets
        n0 = sum(bk[1] for bk in b)
        oldest = self._min_ts if self._min_ts is not None else t_min
        if (
            (b and t_min < self.latest_ts)
            or max(self.latest_ts, t_max) - min(oldest, t_min)
            >= self.window_size
            or [bk[1] for bk in reversed(b)] != _zeroless_sizes(n0)
        ):
            for t in ts_sorted:
                self.add(int(t))
            return
        # old right-boundary position -> that bucket's timestamp
        bounds = {}
        c = 0
        for bk in reversed(b):  # oldest-first
            c += bk[1]
            bounds[c] = bk[0]
        out: List[List[int]] = []
        c = 0
        for s in _zeroless_sizes(n0 + n_new):  # oldest-first sizes
            c += s
            if c <= n0:
                ts = bounds.get(c)
                if ts is None:  # unreachable by the boundary proof;
                    for t in ts_sorted:  # pragma: no cover
                        self.add(int(t))
                    return
            else:
                ts = int(ts_sorted[c - n0 - 1])
            out.append([ts, s])
        out.reverse()  # newest first, the bucket-list invariant
        self.buckets = out
        if t_max > self.latest_ts:
            self.latest_ts = t_max
        # exact re-tighten (O(log n) scan; position-oldest is not
        # necessarily ts-minimal if the OLD adds were out of order)
        self._min_ts = min(bk[0] for bk in out)

    def add_bit(self, bit, ts: int) -> None:
        """Record a bit with parse-skip tolerance: only values that
        parse to the integer 1 enter the sketch (reference
        ``DGIMAggregateFunction.java:60-70``)."""
        try:
            if int(bit) == 1:
                self.add(ts)
        except (TypeError, ValueError):
            return

    def _compact(self) -> None:
        b = self.buckets
        i = 0
        while i + 2 < len(b):
            if b[i][1] == b[i + 1][1] == b[i + 2][1]:
                b[i + 1][1] *= 2  # keep the newer (i+1) bucket's timestamp
                del b[i + 2]
                i = 0  # Java restarts the scan after each merge
            else:
                i += 1

    def _expire(self, now: int) -> None:
        w = self.window_size
        b = self.buckets
        # _expire runs on EVERY add, but a tumbling window keyed by
        # window_end never expires in-window — skip the list rebuild
        # unless the incremental lower bound on the oldest bucket
        # timestamp says something MIGHT be out of window (O(1), no
        # scan; r12 used a min-scan here, which made frequently-
        # expiring hop/cumulate paths pay scan + rebuild per add).
        # The bound can be stale low after compaction deletes the
        # true-min bucket, costing at most one wasted scan that
        # immediately re-tightens it below.
        if not b or now - self._min_ts < w:
            return
        kept = [bk for bk in b if now - bk[0] < w]
        if len(kept) != len(b):
            self.buckets = kept
        # re-tighten to the exact min (we just scanned anyway)
        self._min_ts = min((bk[0] for bk in kept), default=None)

    def estimate(self, at: int | None = None) -> int:
        """Approximate number of 1-bits with ts in ``(at - window, at]``.

        ``at`` defaults to the latest timestamp seen (the reference
        evaluates at its ``latestTimestamp``)."""
        now = self.latest_ts if at is None else int(at)
        self._expire(now)
        b = self.buckets
        if not b:
            return 0
        if self.mode == MODE_JAVA:
            if len(b) == 1:
                return b[0][1]
            return sum(bk[1] for bk in b[:-1]) + (b[-1][1] + 1) // 2
        # pyflink mode: always floor-halve the oldest, even if single
        return sum(bk[1] for bk in b[:-1]) + b[-1][1] // 2

    def merge(self, other: "DGIM") -> "DGIM":
        """In-place distributed combine; returns self."""
        if other.window_size != self.window_size:
            raise ValueError("cannot merge sketches with different window sizes")
        self.buckets.extend([bk[0], bk[1]] for bk in other.buckets)
        if other.latest_ts > self.latest_ts:
            self.latest_ts = other.latest_ts
        if other._min_ts is not None and (
            self._min_ts is None or other._min_ts < self._min_ts
        ):
            self._min_ts = other._min_ts
        # newest first; deterministic total order (see module docstring)
        self.buckets.sort(key=lambda bk: (-bk[0], bk[1]))
        self._compact()
        self._expire(self.latest_ts)
        return self

    # ------------------------------------------------------------------
    # (de)serialization for Spark two-phase aggregation
    # ------------------------------------------------------------------
    def to_flat(self) -> List[int]:
        """Flatten to ``[latest_ts, ts0, size0, ts1, size1, ...]``."""
        out = [self.latest_ts]
        for ts, size in self.buckets:
            out.extend((ts, size))
        return out

    @classmethod
    def from_flat(
        cls, window_size: int, flat: Sequence[int], mode: str = MODE_JAVA
    ) -> "DGIM":
        it = iter(flat[1:])
        return cls(
            window_size,
            mode=mode,
            buckets=list(zip(it, it)),
            latest_ts=flat[0] if flat else 0,
        )

    # ------------------------------------------------------------------
    def __repr__(self) -> str:  # pragma: no cover
        return (
            f"DGIM(window={self.window_size}, mode={self.mode}, "
            f"latest={self.latest_ts}, buckets={self.buckets})"
        )


def count_estimate_closed(n: int, mode: str = MODE_JAVA) -> int:
    """Closed form of ``g(n)`` = the DGIM estimate after ``n``
    sequential 1-bit inserts with no expiry.

    Derivation: with no expiry the compaction cascade ("three equal
    sizes → double the middle one") maintains exactly the unique
    *zeroless binary representation* of ``n`` — bucket sizes are
    powers of two with each power appearing once or twice (digits in
    {1, 2}; uniqueness because the minimal/maximal sums with top
    digit at position m are 2^(m+1)-1 and 2^(m+2)-2, which tile the
    integers).  Hence the oldest bucket is ``2^m`` with
    ``m = floor(log2(n+1)) - 1``, and

    - java mode (``DGIMAccumulator.java:63-88``): 0 if n=0, n if a
      single bucket (n=1), else ``n - 2^m + (2^m + 1)//2``
    - pyflink mode (reference ``job.py:37-46``): 0 if n=0, else
      ``n - 2^m + 2^m // 2`` (floor halving, even when single)

    Property-tested equal to :func:`count_estimate_table` (which
    replays the actual sketch) in tests/test_dgim.py; the same
    expression, spelled in ANSI SQL, is the DuckDB oracle for the
    ``tumble_dgim_bound`` driver query — making the windowed DGIM
    estimate value itself hash-checkable against an independent
    engine."""
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")
    n = int(n)
    if n <= 0:
        return 0
    m = (n + 1).bit_length() - 2  # floor(log2(n+1)) - 1
    pw = 1 << m
    if mode == MODE_JAVA:
        if n == 1:
            return 1
        return n - pw + (pw + 1) // 2
    return n - pw + pw // 2


# mode -> (incrementally-grown sketch, [g(0), g(1), ...])
_COUNT_TABLES: dict = {}


def count_estimate_table(n_max: int, mode: str = MODE_JAVA) -> List[int]:
    """``g[n]`` = DGIM estimate after ``n`` sequential 1-bit inserts
    with no expiry.

    When every bit in a window lies within the sketch horizon of the
    newest bit — always true for the reference's windowed queries,
    where horizon == window size and the in-window timestamp spread is
    strictly less than the window size — no bucket ever expires, the
    compaction cascade is driven purely by bucket *sizes*, and the
    final estimate is a pure function of the 1-bit count.  This is the
    logical rewrite ``DGIM_ESTIMATE(bit, ts) → g(sum(bit))`` that
    SURVEY.md §4 anticipates; property-tested equal to full replay in
    tests/test_dgim.py.

    The table is grown incrementally and memoized per mode; the cost
    of extending to ``n_max`` is O(n_max · log n_max) once per worker.
    """
    st = _COUNT_TABLES.get(mode)
    if st is None:
        st = _COUNT_TABLES[mode] = (DGIM(1 << 60, mode=mode), [0])
    sk, tab = st
    while len(tab) <= n_max:
        sk.add(0)
        tab.append(sk.estimate())
    return tab


def dgim_estimate_stream(
    pairs: Iterable[Tuple[object, int]],
    window_size: int,
    mode: str = MODE_JAVA,
) -> int:
    """Replay a finite (bit, ts) stream sorted by ts ascending and
    return the estimate at the max ts — mirrors the reference's batch
    UDF (``job.py:51-85``) minus its wall-clock fallback, which is
    banned as nondeterministic (SURVEY.md §5 item 3)."""
    sk = DGIM(window_size, mode=mode)
    for bit, ts in sorted(
        ((b, t) for b, t in pairs if t is not None), key=lambda p: p[1]
    ):
        sk.add_bit(bit, ts)
    return sk.estimate()
