"""The benchmark's workloads.  Each takes a ``Run`` (engine, tracer, work
directory, seed, seconds) and returns its tally and metrics.

An operation is one micro-batch or one batch operator run; it fails if
it raises or if its output fails its check.

``stream`` runs the streaming pipeline in two phases on one engine: a
backlog drain (throughput) and then a live open-loop feed (latency).
``backfill_history`` runs the batch window operators.  The three
scenarios share two workloads because each run pays a fixed engine
start and warm-up of ~20 s, and a full pass of the benchmark (4 + 22
runs per workload) must fit its time budget.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

from perfbench import check, gen
from perfbench.planmetrics import run_with_metrics
from perfbench.replay import replay_dgim
from perfbench.tracing import log

# backlog phase: 800 s of event time (~14 tumbling windows) at 50
# events/s in 20 files, all read in one micro-batch per drain.
BACKLOG_EVENTS = 40_000
BACKLOG_FILES = 20
WARM_FILES = 2
# live phase: an 80 ms file period, 40 events a file (500 events/s).
# Each file adds to a micro-batch's fixed cost (listing, getBatch, one
# more file to open): at 20 files and 2,000 events a second, batches
# grew from 2.5 to over 4 s and the backlog grew through the run.
LIVE_PERIOD_S = 0.08
LIVE_PER_FILE = 40
LIVE_MAX_LAG_MS = 500.0
LIVE_PRIMERS = 1
# backfill_history: ~2 events a minute over ~9 days; the check pass
# runs on its first rows
HISTORY_ROWS = 25_000
BACKFILL_CHECK_ROWS = 3_000
# round times on a 4-core machine, which set the rounds per run
BACKLOG_ROUND_S = 8.0
BACKFILL_ROUND_S = 4.0
WATERMARK = "10 seconds"

BACKFILL_OPS = (
    "tumble_dgim",
    "tumble_dgim_fast",
    "tumble_dgim_two_phase",
    "hop_dgim_two_phase",
    "tumble_dgim_by_user_fast",
)


class Tally:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, n_ops: int, errors: list[str], what: str) -> None:
        """``n_ops`` operations ran; all fail if the output check did."""
        self.attempted += n_ops
        if errors:
            self.failed += n_ops
            self.errors.extend(f"{what}: {e}" for e in errors)


def _rounds(seconds: float, round_s: float) -> int:
    """Whole rounds per run, fixed by ``--seconds`` alone so that every
    run attempts the same operations: about ``seconds`` of measurement
    at the round time seen on a 4-core machine, and at least one."""
    return max(1, int(seconds // round_s))


def _latency_metrics(lat: list[float]) -> dict:
    return {
        "latency_p50_ms": statistics.median(lat),
        "latency_p90_ms": statistics.quantiles(lat, n=10, method="inclusive")[8],
    }


# ----------------------------------------------------------------------
# streaming: the jobs under test and what the benchmark reads back
# ----------------------------------------------------------------------
def _stream_job(run, src: str, kind: str, available_now: bool):
    from flink_window_dgim_traffic_spark.streaming import jobs, stateful_dgim

    if available_now:  # the backlog: every file in one micro-batch
        raw = jobs.file_traffic_stream(run.spark, src, BACKLOG_FILES)
    else:  # live: every new file at each trigger
        raw = run.spark.readStream.schema(jobs.TRAFFIC_SCHEMA).json(src)
    parsed = jobs.parse_traffic(raw)
    if kind == "tumble":
        return (
            stateful_dgim.tumble_dgim_stream(parsed, 60, watermark=WATERMARK),
            ["window_end"],
        )
    return (
        stateful_dgim.hop_dgim_stream(parsed, 60, 10, watermark=WATERMARK),
        ["window_start", "window_end"],
    )


class TimedSink:
    """Wraps the foreachBatch function ``upsert_foreach_batch_writer``
    returns, recording when each batch's upsert write finished."""

    def __init__(self, write, tracer) -> None:
        self.write = write
        self.tracer = tracer
        self.end: dict[int, float] = {}
        self.ms: list[float] = []

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.time()
        self.write(batch_df, batch_id)
        t1 = time.time()
        self.end[batch_id] = t1
        self.ms.append((t1 - t0) * 1e3)
        self.tracer.add("jobs.sink_write", t0, t1)


def _start(run, kind, src, tag, available_now: bool):
    """Start one streaming job into the upsert sink; returns the query,
    its sink wrapper, output and checkpoint directories and keys."""
    from flink_window_dgim_traffic_spark.streaming import jobs

    out_dir = os.path.join(run.work, f"out-{tag}")
    ckpt = os.path.join(run.work, f"ckpt-{tag}")
    df, keys = _stream_job(run, src, kind, available_now)
    sink = TimedSink(jobs.upsert_foreach_batch_writer(out_dir, keys), run.tracer)
    w = (
        df.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start(), sink, out_dir, ckpt, keys


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _file_batches(ckpt: str, progress: list[dict]) -> dict[str, int]:
    """File name -> id of the micro-batch that read it.  The file
    source's metadata log in the checkpoint numbers its own batches of
    files (plain and compacted log files alike); a micro-batch's
    progress names the range of those it read."""
    source_batch: dict[str, int] = {}
    for fp in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(fp) as f:
            for line in f:
                if line.startswith("{"):
                    rec = json.loads(line)
                    source_batch[os.path.basename(rec["path"])] = int(rec["batchId"])
    reader: dict[int, int] = {}
    for p in progress:
        src = p["sources"][0]
        lo = (src["startOffset"] or {"logOffset": -1})["logOffset"]
        for n in range(lo + 1, src["endOffset"]["logOffset"] + 1):
            reader[n] = p["batchId"]
    return {name: reader[n] for name, n in source_batch.items() if n in reader}


def _batch_numbers(progress: list[dict]) -> dict:
    """Per-layer numbers of the data micro-batches of one query, from
    its StreamingQueryProgress."""
    batches = [p for p in progress if p["numInputRows"] > 0]
    ops = [o for p in batches for o in p["stateOperators"]]
    out = {
        "batches": len(batches),
        "rows_in": sum(p["numInputRows"] for p in batches),
        "state_rows_total": max((o["numRowsTotal"] for o in ops), default=0),
        "state_bytes": max((o["memoryUsedBytes"] for o in ops), default=0),
        "state_commit_ms": [o["commitTimeMs"] for o in ops],
        "rows_updated": sum(o["numRowsUpdated"] for o in ops),
        "rows_dropped_by_watermark": sum(
            o["numRowsDroppedByWatermark"] for o in ops),
    }
    for key, name in (
        ("latestOffset", "latest_offset_ms"), ("getBatch", "get_batch_ms"),
        ("queryPlanning", "planning_ms"), ("addBatch", "add_batch_ms"),
        ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms"),
    ):
        out[name] = [p["durationMs"].get(key, 0) for p in batches]
    return out


def _merge(acc: dict, one: dict) -> dict:
    for k, v in one.items():
        if isinstance(v, list):
            acc[k] = acc.get(k, []) + v
        elif k in ("state_rows_total", "state_bytes", "backlog_files_max"):
            acc[k] = max(acc.get(k, 0), v)
        else:
            acc[k] = acc.get(k, 0) + v
    return acc


def _layer_metrics(phase: str, acc: dict) -> dict:
    """``<phase>.<layer>.<metric>`` values; times are per-batch means."""
    mean = lambda xs: float(np.mean(xs)) if xs else 0.0  # noqa: E731
    m = {f"{phase}.stream.{k}": mean(acc[k]) for k in (
        "latest_offset_ms", "get_batch_ms", "planning_ms", "add_batch_ms",
        "wal_commit_ms", "commit_offsets_ms")}
    m[f"{phase}.stream.batches"] = acc["batches"]
    m[f"{phase}.stream.backlog_files_max"] = acc["backlog_files_max"]
    for k in ("state_rows_total", "state_bytes", "rows_updated",
              "rows_dropped_by_watermark"):
        m[f"{phase}.stateful_dgim.{k}"] = acc[k]
    m[f"{phase}.stateful_dgim.state_commit_ms"] = mean(acc["state_commit_ms"])
    m[f"{phase}.jobs.sink_write_ms"] = mean(acc["sink_ms"])
    m[f"{phase}.jobs.sink_records"] = acc["sink_records"]
    return m


def _check_stream(expected, out_dir, keys, numbers) -> tuple[list[str], int]:
    """Compacted upsert log against the expected windows; a stream may
    drop no row at the watermark."""
    got, repeats = check.read_upsert_log(out_dir)
    if got.empty:
        return ["upsert log is empty"], 0
    errors = check.compare(expected, got, keys, "closed")
    if repeats:
        errors.append(f"{repeats} keys written twice in one batch")
    if numbers["rows_dropped_by_watermark"]:
        errors.append(
            f"{numbers['rows_dropped_by_watermark']} rows dropped by watermark")
    return errors, int(got["records"].sum())


def _valid(ev: dict) -> tuple[np.ndarray, np.ndarray]:
    """Event seconds and bits of the rows the parser should keep."""
    ok = (ev["value_code"] <= 1) & (ev["ts_code"] == 0)
    return ev["ts_us"][ok] // 1_000_000, ev["value_code"][ok].astype(np.int64)


def _parse_pass(run, src: str) -> dict:
    """Parse-only batch pass over the same input into the noop sink."""
    from flink_window_dgim_traffic_spark.streaming import jobs

    raw = run.spark.read.schema(jobs.TRAFFIC_SCHEMA).json(src)
    t0 = time.perf_counter()
    with run.tracer.span("jobs.parse"):
        jobs.parse_traffic(raw).write.format("noop").mode("overwrite").save()
    parse_s = time.perf_counter() - t0
    return {
        "backlog.jobs.parse_s": parse_s,
        "backlog.jobs.rows_in": raw.count(),
        "backlog.jobs.rows_valid": jobs.parse_traffic(raw).count(),
    }


# ----------------------------------------------------------------------
# stream, phase 1: backlog drains
# ----------------------------------------------------------------------
def _drain(run, src, kind, expected, tally, tag, n_files) -> dict:
    """Drain a backlog directory once through one job (availableNow)."""
    t0 = time.time()
    with run.tracer.span(f"stream.{kind}_drain"):
        q, sink, out_dir, ckpt, keys = _start(run, kind, src, tag, True)
        try:
            q.awaitTermination()
        finally:
            q.stop()
    wall = time.time() - t0
    progress = _progress(q)
    numbers = _batch_numbers(progress)
    batch_of = _file_batches(ckpt, progress)
    errors, records = _check_stream(expected, out_dir, keys, numbers)
    if len(batch_of) != n_files or not set(batch_of.values()) <= set(sink.end):
        errors.append(f"{len(batch_of)} of {n_files} files reached the sink")
    tally.record(max(numbers["batches"], 1), errors, f"{kind} drain")
    log(f"{kind} drain: {numbers['rows_in']} rows, {numbers['batches']} "
        f"batches, {wall:.2f} s")
    # Output and checkpoint stay until the engine has stopped: the state
    # store's maintenance thread may still touch the checkpoint.
    numbers.update(sink_ms=sink.ms, sink_records=records,
                   backlog_files_max=n_files)
    return {"wall": wall, "numbers": numbers, "batch_of": batch_of}


def _backlog_phase(run, tally: Tally) -> dict:
    ev = gen.backlog_events(run.seed, BACKLOG_EVENTS)
    src = os.path.join(run.work, "backlog")
    gen.write_backlog(src, ev, BACKLOG_FILES)
    ts_sec, bits = _valid(ev)
    expected = {
        "tumble": check.expected_windows(ts_sec, bits, 60),
        "hop": check.expected_windows(ts_sec, bits, 60, 10),
    }
    # Warm-up on the first tenth of the backlog, checked and counted
    # but not timed: keeps the engine's one-time start costs out of the
    # timed drains and warms the JIT for them and for the live phase.
    warm = os.path.join(run.work, "warm")
    os.makedirs(warm)
    for i in range(WARM_FILES):
        shutil.copy2(os.path.join(src, gen.backlog_file_name(i)), warm)
    n_warm = gen.file_bounds(BACKLOG_EVENTS, BACKLOG_FILES)[WARM_FILES]
    wts, wbits = _valid({k: v[:n_warm] for k, v in ev.items()})
    expected_warm = {
        "tumble": check.expected_windows(wts, wbits, 60),
        "hop": check.expected_windows(wts, wbits, 60, 10),
    }

    def warm_up(r, tally, tag):
        for kind in ("tumble", "hop"):
            _drain(r, warm, kind, expected_warm[kind], tally, f"{tag}-{kind}",
                   WARM_FILES)

    def one_round(r, tally, tag):
        return [
            _drain(r, src, kind, expected[kind], tally, f"{tag}-{kind}",
                   BACKLOG_FILES)
            for kind in ("tumble", "hop")
        ]

    warm_up(run, tally, "warm")
    drains = []
    for i in range(_rounds(run.seconds, BACKLOG_ROUND_S)):
        drains += one_round(run, tally, f"round{i}")
    out = {"events_per_s": _throughput(drains)}
    if run.tracer.enabled:
        acc: dict = {}
        for d in drains:
            _merge(acc, d["numbers"])
        out["layers"] = {
            **_layer_metrics("backlog", acc),
            **_parse_pass(run, src),
            **_prefixed("backlog", replay_dgim(
                ts_sec, bits, _backlog_batches(ev, drains[0]["batch_of"]))),
        }

        def single_core(r):
            warm_up(r, Tally(), "local1-warm")
            return _throughput(one_round(r, Tally(), "local1"))

        out["single_core"] = single_core
    return out


def _throughput(drains: list[dict]) -> float:
    rows = sum(d["numbers"]["rows_in"] for d in drains)
    return rows / sum(d["wall"] for d in drains)


def _backlog_batches(ev: dict, batch_of: dict[str, int]) -> np.ndarray:
    """Micro-batch id of each valid backlog event in one drain."""
    bounds = gen.file_bounds(BACKLOG_EVENTS, BACKLOG_FILES)
    file_idx = np.searchsorted(bounds, np.arange(BACKLOG_EVENTS), side="right") - 1
    batch = np.array([batch_of[gen.backlog_file_name(i)] for i in range(BACKLOG_FILES)])
    ok = (ev["value_code"] <= 1) & (ev["ts_code"] == 0)
    return batch[file_idx][ok]


def _prefixed(phase: str, metrics: dict) -> dict:
    return {f"{phase}.{k}": v for k, v in metrics.items()}


# ----------------------------------------------------------------------
# stream, phase 2: the live open-loop feed
# ----------------------------------------------------------------------
def _live_phase(run, tally: Tally) -> dict:
    n_files = max(1, int(round(run.seconds / LIVE_PERIOD_S)))
    period_us = int(LIVE_PERIOD_S * 1e6)
    src = os.path.join(run.work, "live")
    stage = os.path.join(run.work, "live-stage")
    os.makedirs(src)
    os.makedirs(stage)
    log_path = os.path.join(run.work, "livegen.json")
    # Primer files, read one micro-batch each before the generator
    # starts: the first carries the query's start costs, the rest warm
    # the per-batch path.  None is timed.
    primer_end_us = int(time.time() * 1e6)
    primer = gen.live_primer(run.seed, LIVE_PRIMERS, LIVE_PER_FILE, period_us)
    q, sink, out_dir, ckpt, keys = _start(run, "tumble", src, "live", False)
    try:
        for i in range(LIVE_PRIMERS):
            sel = primer["file_idx"] == i
            with open(os.path.join(src, gen.live_file_name(f"primer{i}")), "w") as f:
                f.write(gen.live_text(
                    primer["created_us"][sel], primer["bit"][sel], primer_end_us))
            with run.tracer.span("stream.primer"):
                q.processAllAvailable()
        # the generator process needs ~0.3 s to start; its schedule
        # begins after that, and so does the timed section
        start_us = int((time.time() + 0.6) * 1e6)
        t0 = start_us / 1e6
        with run.tracer.span("gen.live"):
            subprocess.run(
                [sys.executable, os.path.join(os.path.dirname(__file__), "livegen.py"),
                 "--seed", str(run.seed), "--start-us", str(start_us),
                 "--files", str(n_files), "--per-file", str(LIVE_PER_FILE),
                 "--period-us", str(period_us),
                 "--out", src, "--stage", stage, "--log", log_path],
                check=True, timeout=run.seconds + 60,
            )
        with run.tracer.span("stream.drain_live"):
            _await_sink(q, sink, ckpt, gen.live_file_name(n_files - 1))
        log(f"live: drained {time.time() - t0:.2f} s after the generator's start")
    finally:
        q.stop()
    with open(log_path) as f:
        gen_log = json.load(f)["files"]
    progress = _progress(q)
    batch_of = _file_batches(ckpt, progress)
    last_primer = batch_of[gen.live_file_name(f"primer{LIVE_PRIMERS - 1}")]
    progress = [p for p in progress if p["batchId"] > last_primer]
    numbers = _batch_numbers(progress)
    log("live batches (rows/ms): " + " ".join(
        f"{p['numInputRows']}/{p['durationMs'].get('triggerExecution', 0)}"
        for p in progress))
    lat, missing = [], 0
    for rec in gen_log:
        b = batch_of.get(rec["name"])
        if b is None or b not in sink.end:
            missing += 1
            continue
        lat.append(sink.end[b] * 1e3 - rec["newest_created_us"] / 1e3)
    plan = gen.live_plan(run.seed, n_files, LIVE_PER_FILE, period_us)
    created_sec = (start_us + plan["created_us"]) // 1_000_000
    primer_sec = (primer_end_us + primer["created_us"]) // 1_000_000
    expected = check.expected_windows(
        np.r_[primer_sec, created_sec],
        np.r_[primer["bit"], plan["bit"]].astype(np.int64), 60)
    errors, records = _check_stream(expected, out_dir, keys, numbers)
    if missing:
        errors.append(f"{missing} generator files never reached the sink")
    if numbers["rows_in"] != len(plan["bit"]):
        errors.append(f"read {numbers['rows_in']} of {len(plan['bit'])} events")
    tally.record(numbers["batches"] + LIVE_PRIMERS, errors, "live")
    lag_max = max(r["lag_ms"] for r in gen_log)
    if lag_max > LIVE_MAX_LAG_MS:
        raise RuntimeError(
            f"generator fell {lag_max:.0f} ms behind schedule; run invalid")
    out = {"latency": lat, "gen_lag_ms_max": lag_max}
    if run.tracer.enabled:
        # files a micro-batch found waiting when it started
        started = {p["batchId"]: _epoch_ms(p["timestamp"]) for p in progress}
        waiting = [
            sum(1 for r in gen_log
                if r["written_us"] / 1e3 <= t0_ms and batch_of.get(r["name"], -1) >= b)
            for b, t0_ms in started.items()
        ]
        numbers.update(sink_ms=sink.ms, sink_records=records,
                       backlog_files_max=max(waiting, default=0))
        out["layers"] = {
            **_layer_metrics("live", numbers),
            "live.gen.lag_ms_max": lag_max,
            **_prefixed("live", replay_dgim(
                created_sec, plan["bit"],
                np.array([batch_of[gen.live_file_name(i)] for i in plan["file_idx"]]))),
        }
    return out


def _await_sink(q, sink: TimedSink, ckpt: str, last_file: str,
                timeout_s: float = 60.0) -> None:
    """Wait until the micro-batch that read ``last_file`` has written to
    the sink (``processAllAvailable`` would also wait for the no-data
    batch that follows, which evicts state and writes nothing new)."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        b = _file_batches(ckpt, _progress(q)).get(last_file)
        if b is not None and b in sink.end:
            return
        if q.exception() is not None:
            raise RuntimeError(f"live query failed: {q.exception()}")
        time.sleep(0.05)
    raise RuntimeError(f"{last_file} did not reach the sink in {timeout_s:.0f} s")


def _epoch_ms(iso: str) -> float:
    """Epoch milliseconds of a progress timestamp (``...T..:..:..SSSZ``)."""
    return float(np.datetime64(iso.rstrip("Z"), "ms").astype(np.int64))


def stream(run) -> dict:
    tally = Tally()
    backlog = _backlog_phase(run, tally)
    live = _live_phase(run, tally)
    result = {
        "tally": tally,
        "e2e": {"events_per_s": backlog["events_per_s"],
                **_latency_metrics(live["latency"])},
        "latency_samples": len(live["latency"]),
    }
    if run.tracer.enabled:
        result["layers"] = {
            **backlog["layers"], **live["layers"],
            "backlog.stream.local1_events_per_s": run.single_core(
                backlog["single_core"]),
        }
    return result


# ----------------------------------------------------------------------
# backfill_history
# ----------------------------------------------------------------------
def _backfill_df(run, op: str, events):
    from flink_window_dgim_traffic_spark.operators import windows

    return getattr(windows, op)(events)


BACKFILL_CHECK = {
    "tumble_dgim": (["window_end"], "closed", False),
    "tumble_dgim_fast": (["window_end"], "closed", False),
    "tumble_dgim_two_phase": (["window_end"], "bound", False),
    "hop_dgim_two_phase": (["window_start", "window_end"], "bound", True),
    "tumble_dgim_by_user_fast": (["window_end", "user_id"], "closed", False),
}


def _history(run, name: str, hist: dict):
    from flink_window_dgim_traffic_spark import session

    hdir = os.path.join(run.work, name)
    os.makedirs(hdir)
    gen.write_history(os.path.join(hdir, "events.parquet"), hist)
    return session.table(run.spark, hdir, "events")


def backfill_history(run) -> dict:
    hist = gen.history_events(run.seed, HISTORY_ROWS)
    events = _history(run, "history", hist)
    tally = Tally()
    # Check pass over the first rows of the history: every operator is
    # collected and checked; this also keeps the engine's one-time
    # start costs out of the timed runs.
    head = {k: v[:BACKFILL_CHECK_ROWS] for k, v in hist.items()}
    head_events = _history(run, "history-head", head)
    ts_sec = head["ts_us"] // 1_000_000
    bits = head["event_id"] % 2
    expected = {
        "tumble": check.expected_windows(ts_sec, bits, 60),
        "hop": check.expected_windows(ts_sec, bits, 60, 10),
        "user": check.expected_windows(ts_sec, bits, 60, key=head["user_id"]),
    }
    for op in BACKFILL_OPS:
        keys, mode, hop = BACKFILL_CHECK[op]
        exp = expected["hop" if hop else "user" if "user_id" in keys else "tumble"]
        start = time.perf_counter()
        try:
            got = _backfill_df(run, op, head_events).toPandas()
        except Exception as exc:  # an operation that raises has failed
            tally.record(1, [repr(exc)], op)
            continue
        log(f"check {op}: {len(got)} rows, {time.perf_counter() - start:.2f} s")
        cols = [c for c in exp.columns if c in got.columns or c in keys]
        tally.record(1, check.compare(exp[cols], got, keys, mode), op)
    times: dict[str, list[float]] = {op: [] for op in BACKFILL_OPS}
    sql: dict[str, float] = {}
    rounds = []
    for _ in range(_rounds(run.seconds, BACKFILL_ROUND_S)):
        rounds.append(0.0)
        for op in BACKFILL_OPS:
            df = _backfill_df(run, op, events)
            start = time.perf_counter()
            try:
                with run.tracer.span(f"windows.{op}"):
                    if run.tracer.enabled:
                        for k, v in run_with_metrics(df).items():
                            sql[k] = sql.get(k, 0) + v
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # an operation that raises has failed
                tally.record(1, [repr(exc)], op)
                continue
            times[op].append(time.perf_counter() - start)
            rounds[-1] += times[op][-1]
            log(f"{op}: {times[op][-1]:.2f} s")
            tally.record(1, [], op)
    n_runs = sum(len(v) for v in times.values())
    result = {
        "tally": tally,
        "e2e": {"events_per_s": HISTORY_ROWS * n_runs / sum(rounds),
                **_latency_metrics([x * 1e3 for x in rounds])},
        "latency_samples": len(rounds),
    }
    if run.tracer.enabled:
        layers = {f"windows.{op}_s": statistics.median(v) for op, v in times.items()}
        layers.update({f"windows.{k}": v / len(rounds) for k, v in sql.items()})
        ts_all = hist["ts_us"] // 1_000_000
        layers.update(_prefixed("backfill", replay_dgim(
            ts_all, hist["event_id"] % 2, np.zeros(len(ts_all), dtype=np.int64))))
        result["layers"] = layers
    return result


WORKLOADS = {"stream": stream, "backfill_history": backfill_history}
