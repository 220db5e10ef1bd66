"""Streaming DGIM per tumbling, hopping and cumulate window.

The reference keeps one DGIM accumulator per open window inside
Flink's window operator (``DGIMAggregateFunction.java:41-71``).  In
every one of these windows the sketch horizon equals the window size,
so no bucket ever expires and the estimate is exactly the closed form
``g(ones)`` (``dgim.count_estimate_closed``).  The three streams here
therefore run on Spark's built-in streaming aggregation — per window
``sum(bit)`` and ``count``, state kept by the engine, evicted by the
watermark — followed by the native ``windows.dgim_estimate_col``
projection, in update mode.  They are the exact twins of
``jobs.*_exact_stream`` plus that projection; no Python runs per
micro-batch.

One ``transformWithStateInPandas`` stream remains beside them:
:func:`tumble_dgim_stream_tws`, whose :class:`DGIMProcessor` keeps the
real bucket list in the state store (O(log² N) per window, updated
with ``DGIM.bulk_add_ones``).  It is the one place the sketch itself
lives in streaming state, and it is tested equal to batch replay.
The TWS runtime staging below (protobuf, RocksDB provider) also
serves the heavy-hitters and funnel processors.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql.streaming import StatefulProcessor

from flink_window_dgim_traffic_spark.dgim import DGIM, MODE_JAVA
from flink_window_dgim_traffic_spark.streaming import jobs


OUTPUT_SCHEMA = (
    "window_end string, count_estimate bigint, exact_count bigint, n_rows bigint"
)


def tumble_dgim_stream(
    parsed,
    size_sec: int = 60,
    mode: str = MODE_JAVA,
    watermark: str | None = None,
):
    """Update-mode streaming DGIM per tumbling window (the reference's
    Java tumbling + PyFlink jobs).  Input must be ``parse_traffic``
    output (bit, ts, ts_sec).  Output: ``window_end, count_estimate,
    exact_count, n_rows``, one row per window updated in a batch.

    Late data: with ``watermark`` set, a window's state is evicted once
    the watermark reaches its end, and a row is dropped (counted in
    ``numRowsDroppedByWatermark``) only when its window's end is at or
    below the watermark.  A row older than the watermark whose window
    is still open is counted.  Without a watermark nothing is evicted
    or dropped."""
    return jobs.with_dgim_estimate(
        jobs.tumble_exact_stream(parsed, size_sec, watermark), mode
    )


def hop_dgim_stream(
    parsed,
    size_sec: int = 60,
    slide_sec: int = 10,
    mode: str = MODE_JAVA,
    watermark: str | None = None,
):
    """Update-mode streaming DGIM per hopping window — the reference's
    sliding job (``SlidingWindowStreamingJob.java:92-111``) as a
    stateful stream keyed by (window_start, window_end).  Each record
    updates size/slide windows.  Late data follows the tumbling rule
    (:func:`tumble_dgim_stream`), window by window."""
    return jobs.with_dgim_estimate(
        jobs.hop_exact_stream(parsed, size_sec, slide_sec, watermark), mode
    )


def cumulate_dgim_stream(
    parsed,
    max_size_sec: int = 60,
    step_sec: int = 10,
    mode: str = MODE_JAVA,
    watermark: str | None = None,
):
    """Update-mode streaming DGIM per CUMULATE window — completes the
    streaming DGIM family (tumble / hop / cumulate).  Spark has no
    CUMULATE TVF, so each record explodes into the (span_start, end)
    pairs of the cumulative windows that cover it (the same end math
    as the batch operator), aggregated by ``jobs.cumulate_exact_stream``.
    A cumulative window spans at most ``max_size_sec``, the sketch
    horizon, so its estimate is the closed form of its 1-bit count.
    With ``watermark`` set (any interval), the watermark moves to
    the window end with ``max_size_sec`` more delay, as in the exact
    twin; a window's state evicts, and later rows for it drop, once
    that watermark reaches the window's end."""
    return jobs.with_dgim_estimate(
        jobs.cumulate_exact_stream(parsed, max_size_sec, step_sec, watermark),
        mode,
    )


# ----------------------------------------------------------------------
# transformWithStateInPandas variant (Spark 4.x StatefulProcessor API)
# ----------------------------------------------------------------------
#: directories that may carry a pure-Python ``google.protobuf``
#: package without being on sys.path — the google-cloud-sdk ships one
#: for its appengine tooling.  Probed by :func:`enable_tws_runtime`;
#: override/extend with $SPARK_GRAFT_PROTOBUF_PATH.
_PROTOBUF_FALLBACK_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


_TWS_RUNTIME = {"dir": None, "zip": None, "shipped": set(), "reason": None}

#: max (major, minor) skew between PySpark's protobuf GENCODE and a
#: staged pure-Python RUNTIME that we will paper over by disabling
#: the runtime-version validator.  Pure-Python descriptors are
#: wire-compatible across one minor; a larger skew must raise so a
#: misparse surfaces as a version error, not silent wire corruption.
_PROTOBUF_MAX_MINOR_SKEW = 1


def _pkg_parent_dir() -> str:
    """Directory containing the ``flink_window_dgim_traffic_spark``
    package — what the TWS driver worker needs on PYTHONPATH."""
    return os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )


def _prepend_pythonpath(path: str) -> None:
    """Idempotently prepend ``path`` to ``$PYTHONPATH`` so JVMs (and
    their TWS driver workers) started AFTER this call inherit it."""
    pp = os.environ.get("PYTHONPATH", "")
    parts = pp.split(os.pathsep) if pp else []
    if path not in parts:
        parts.insert(0, path)
        os.environ["PYTHONPATH"] = os.pathsep.join(parts)


def _staged_runtime_version(src_dir: str) -> tuple[int, int] | None:
    """(major, minor) of the pure-Python protobuf runtime under
    ``src_dir`` — read textually from ``runtime_version.py`` (new
    layout) or ``__init__.py``'s ``__version__`` (pre-4.25 layout)
    without importing it (it isn't on sys.path yet)."""
    import re

    pb = os.path.join(src_dir, "google", "protobuf")
    for name, pat in (
        ("runtime_version.py", r"MINOR\s*=\s*(\d+)"),
        ("__init__.py", r"__version__\s*=\s*['\"](\d+)\.(\d+)"),
    ):
        path = os.path.join(pb, name)
        if not os.path.exists(path):
            continue
        with open(path) as fh:
            text = fh.read()
        if name == "runtime_version.py":
            major = re.search(r"MAJOR\s*=\s*(\d+)", text)
            minor = re.search(r"MINOR\s*=\s*(\d+)", text)
            if major and minor:
                return int(major.group(1)), int(minor.group(1))
        else:
            m = re.search(pat, text)
            if m:
                # 3.x pure-Python releases: "3.19.6" → gencode era 19
                major, minor = int(m.group(1)), int(m.group(2))
                return (4, minor) if major == 3 else (major, minor)
    return None


def _gencode_expected_version() -> tuple[int, int] | None:
    """(major, minor) the PySpark-generated state-server stubs were
    built against, read textually from the generated module so it
    works before protobuf itself is importable."""
    import re

    try:
        import pyspark

        gen = os.path.join(
            os.path.dirname(os.path.abspath(pyspark.__file__)),
            "sql",
            "streaming",
            "proto",
            "StateMessage_pb2.py",
        )
        with open(gen) as fh:
            m = re.search(
                r"ValidateProtobufRuntimeVersion\(\s*"
                r"_runtime_version\.Domain\.PUBLIC,\s*(\d+),\s*(\d+)",
                fh.read(),
            )
        if m:
            return int(m.group(1)), int(m.group(2))
    except Exception:
        pass
    return None


def _build_portable_protobuf(src_dir: str) -> tuple[str, str]:
    """Copy the pure-Python ``google/protobuf`` tree from ``src_dir``
    into a temp staging dir, append a no-op override of
    ``ValidateProtobufRuntimeVersion`` to its ``runtime_version.py``
    (pure-Python descriptors are wire-compatible across a one-minor
    skew and the batch==stream equality test is the real gate), and
    zip it — the zip is what :func:`ship_tws_runtime` sends to
    workers via ``addPyFile``.  Returns (staging_dir, zip_path).

    The validator is only disarmed when the measured skew between the
    staged RUNTIME and PySpark's GENCODE is within
    ``_PROTOBUF_MAX_MINOR_SKEW`` (same major); a larger skew raises
    ``RuntimeError`` here so it surfaces as a clear version error,
    never a silent wire misparse."""
    import atexit
    import shutil
    import tempfile
    import zipfile

    runtime_v = _staged_runtime_version(src_dir)
    gencode_v = _gencode_expected_version()
    if runtime_v is not None and gencode_v is not None:
        same_major = runtime_v[0] == gencode_v[0]
        skew = abs(runtime_v[1] - gencode_v[1])
        if not (same_major and skew <= _PROTOBUF_MAX_MINOR_SKEW):
            raise RuntimeError(
                "TWS protobuf staging refused: staged pure-Python "
                f"runtime {runtime_v[0]}.{runtime_v[1]} vs PySpark "
                f"gencode {gencode_v[0]}.{gencode_v[1]} exceeds the "
                f"±{_PROTOBUF_MAX_MINOR_SKEW}-minor window this shim "
                "is validated for.  Install a matching protobuf or "
                "point $SPARK_GRAFT_PROTOBUF_PATH at a closer runtime."
            )

    stage = tempfile.mkdtemp(prefix="spark_graft_tws_pb_")
    # removed at interpreter exit, not earlier: workers and the TWS
    # driver worker import from it for as long as the process lives
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    dst = os.path.join(stage, "google", "protobuf")
    shutil.copytree(os.path.join(src_dir, "google", "protobuf"), dst)
    with open(os.path.join(dst, "runtime_version.py"), "a") as fh:
        fh.write(
            "\n\n# spark-graft portable copy: accept newer gencode on"
            "\n# this older pure-Python runtime (wire-compatible;"
            "\n# end-to-end equality is asserted in tests)"
            "\ndef ValidateProtobufRuntimeVersion(*args, **kwargs):"
            "  # noqa: F811\n  return\n"
        )
    zip_path = os.path.join(stage, "tws_protobuf.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(os.path.join(stage, "google")):
            for name in files:
                full = os.path.join(root, name)
                zf.write(full, os.path.relpath(full, stage))
    return stage, zip_path


def enable_tws_runtime() -> bool:
    """Make ``google.protobuf`` importable for the TWS state-server
    protocol on the DRIVER, and stage it for workers.  Returns True
    when the import works.

    Resolution order: a real site-packages install wins (nothing to
    do — workers share it).  Otherwise probe
    ``$SPARK_GRAFT_PROTOBUF_PATH`` then ``_PROTOBUF_FALLBACK_DIRS``
    for a pure-Python copy, build a PATCHED portable copy + zip
    (:func:`_build_portable_protobuf` — no install step, the no-pip
    constraint stands), put it on the driver's sys.path, and prepend
    it to ``$PYTHONPATH`` so workers of any FUTURE session inherit it
    through the JVM.  Workers of a session whose JVM already started
    need :func:`ship_tws_runtime` (addPyFile) instead —
    :func:`tumble_dgim_stream_tws` calls it automatically."""
    import sys

    # The package parent must reach the TWS driver worker's
    # PYTHONPATH REGARDLESS of where protobuf comes from — a real
    # site-packages install satisfies the protobuf import but the
    # StreamingPythonRunner still unpickles our StatefulProcessor
    # from scratch and only sees PYTHONPATH captured at JVM start
    # (addPyFile/ship_package don't reach it).
    _prepend_pythonpath(_pkg_parent_dir())

    if _TWS_RUNTIME["dir"] is None:
        try:
            from google.protobuf import descriptor  # noqa: F401

            return True  # real install; workers share it
        except ImportError:
            pass
        cands = [os.environ.get("SPARK_GRAFT_PROTOBUF_PATH")]
        cands += list(_PROTOBUF_FALLBACK_DIRS)
        src = next(
            (
                p
                for p in cands
                if p and os.path.isdir(os.path.join(p, "google", "protobuf"))
            ),
            None,
        )
        if src is None:
            _TWS_RUNTIME["reason"] = (
                "no google.protobuf importable and no pure-Python "
                "runtime found at $SPARK_GRAFT_PROTOBUF_PATH or "
                f"{_PROTOBUF_FALLBACK_DIRS}"
            )
            return False
        try:
            stage, zip_path = _build_portable_protobuf(src)
        except RuntimeError as exc:  # version-skew refusal: be loud
            _TWS_RUNTIME["reason"] = str(exc)
            return False
        _TWS_RUNTIME["dir"], _TWS_RUNTIME["zip"] = stage, zip_path
    stage = _TWS_RUNTIME["dir"]
    if stage not in sys.path:
        sys.path.insert(0, stage)
    # Stage dir too: the TWS driver worker resolves protobuf via
    # PYTHONPATH captured at JVM start (see note above) — observed:
    # without this, STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE /
    # ModuleNotFoundError from /tmp even though ship_package covered
    # the regular workers.
    _prepend_pythonpath(stage)
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def ship_tws_runtime(spark) -> bool:
    """Make the TWS protobuf runtime importable in the WORKERS of an
    ALREADY-RUNNING session: when the driver is using the portable
    copy (no site-packages install), ``addPyFile`` its zip so the
    worker daemon — whose environment was frozen when the JVM
    started — finds ``google.protobuf`` on the shipped path.
    Idempotent per session.  Returns :func:`enable_tws_runtime`'s
    verdict."""
    ok = enable_tws_runtime()
    if not ok or _TWS_RUNTIME["zip"] is None:
        return ok  # real install (workers share it) or unavailable
    sc = spark.sparkContext
    key = sc.applicationId
    if key not in _TWS_RUNTIME["shipped"]:
        sc.addPyFile(_TWS_RUNTIME["zip"])
        _TWS_RUNTIME["shipped"].add(key)
    return True


def tws_available() -> bool:
    """True when the transformWithStateInPandas runtime can start:
    :func:`enable_tws_runtime` made ``google.protobuf`` importable AND
    PySpark's generated ``StateMessage_pb2`` actually loads under it
    (the version-checked step).  When False,
    :func:`tws_unavailable_reason` says why."""
    if not enable_tws_runtime():
        if _TWS_RUNTIME.get("reason") is None:
            _TWS_RUNTIME["reason"] = (
                "no google.protobuf importable and no pure-Python "
                "runtime found at $SPARK_GRAFT_PROTOBUF_PATH or "
                f"{_PROTOBUF_FALLBACK_DIRS}"
            )
        return False
    try:
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401

        _TWS_RUNTIME["reason"] = None
        return True
    except Exception as exc:
        _TWS_RUNTIME["reason"] = (
            f"StateMessage_pb2 failed to load under the available "
            f"protobuf: {type(exc).__name__}: {exc}"
        )
        return False


def tws_unavailable_reason() -> str | None:
    """Human-readable reason the last :func:`tws_available` call
    returned False (None when it returned True or never ran) — the
    loud-degrade surface asked of the protobuf gate."""
    return _TWS_RUNTIME.get("reason")


class tws_state_store_conf:
    """Context manager pinning the RocksDB state store provider for a
    TWS query: transformWithStateInPandas keeps each state variable in
    its own column family, which the default HDFSBacked provider
    rejects (StateStoreMultipleColumnFamiliesNotSupported).  The conf
    is read at QUERY START, so scoping it to the ``start()`` call
    leaves every other stateful query on the default provider."""

    _KEY = "spark.sql.streaming.stateStore.providerClass"
    _ROCKSDB = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )

    def __init__(self, spark) -> None:
        self._spark = spark
        self._prev = None

    def __enter__(self):
        try:
            self._prev = self._spark.conf.get(self._KEY)
        except Exception:
            self._prev = None
        self._spark.conf.set(self._KEY, self._ROCKSDB)
        return self

    def __exit__(self, *exc):
        if self._prev is None:
            self._spark.conf.unset(self._KEY)
        else:
            self._spark.conf.set(self._KEY, self._prev)
        return False


class DGIMProcessor(StatefulProcessor):
    """The ``transformWithStateInPandas`` StatefulProcessor for the
    incremental tumbling DGIM: the bucket list in a typed ValueState,
    one per window end.  Defined at module
    level so tests can construct it and drive init/handleInputRows
    directly with a fake state handle — the full state round-trip
    (from_flat/to_flat, multi-batch accumulation, output frame) is
    exercised even where the TWS protobuf runtime is absent (the
    class itself imports protobuf-free; only the runtime's state
    server needs it)."""

    def __init__(self, size_sec: int, mode: str = MODE_JAVA) -> None:
        self._size_sec = size_sec
        self._mode = mode

    def init(self, handle) -> None:
        self._st = handle.getValueState(
            "sketch", "flat array<bigint>, ones bigint, nrows bigint"
        )

    def handleInputRows(self, key, rows, timerValues):
        if self._st.exists():
            flat, ones, nrows = self._st.get()
            sk = DGIM.from_flat(self._size_sec, list(flat), mode=self._mode)
        else:
            sk, ones, nrows = DGIM(self._size_sec, mode=self._mode), 0, 0
        # sort ONCE across the whole group iterator: a key's batch
        # rows can span multiple Arrow chunks, and bulk_add_ones
        # needs them in time order
        frames = [pdf for pdf in rows]
        sub = (
            pd.concat(frames).sort_values("ts_sec", kind="mergesort")
            if frames
            else pd.DataFrame({"bit": [], "ts_sec": []})
        )
        ts1 = sub["ts_sec"].to_numpy()[sub["bit"].to_numpy() == 1]
        sk.bulk_add_ones(ts1)
        ones += len(ts1)
        nrows += len(sub)
        self._st.update((sk.to_flat(), ones, nrows))
        yield pd.DataFrame(
            {
                "window_end": [key[0].strftime("%Y-%m-%d %H:%M:%S")],
                "count_estimate": [sk.estimate()],
                "exact_count": [ones],
                "n_rows": [nrows],
            }
        )

    def close(self) -> None:
        pass


def tumble_dgim_stream_tws(parsed, size_sec: int = 60, mode: str = MODE_JAVA):
    """Same incremental tumbling DGIM as :func:`tumble_dgim_stream`,
    on the current-generation ``transformWithStateInPandas`` API, with
    the real bucket list as state; outputs are tested identical.

    Runtime requirements (both satisfied in CI since r10, so the
    end-to-end branch of tests/test_streaming.py actually executes):
    ``google.protobuf`` for the state-server protocol — located by
    :func:`enable_tws_runtime` (site-packages, or a pure-Python copy
    on a probed path; no install step) — and the RocksDB state store
    provider (TWS uses one column family per state variable, which
    the default HDFSBacked provider rejects; scope it with
    :class:`tws_state_store_conf`).  The processor ITSELF
    (:class:`DGIMProcessor`) is runtime-independent and additionally
    driven directly with a fake state handle in tests, so state
    reload slicing stays covered even where the runtime is absent."""
    from pyspark.sql import functions as F

    # workers of an already-running session need the portable
    # protobuf shipped (no-op on a real install); see ship_tws_runtime
    ship_tws_runtime(parsed.sparkSession)
    keyed = parsed.select(
        F.window("ts", f"{size_sec} seconds").getItem("end").alias("we"),
        "bit",
        "ts_sec",
    )
    return keyed.groupBy("we").transformWithStateInPandas(
        statefulProcessor=DGIMProcessor(size_sec, mode),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
