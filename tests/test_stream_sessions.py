"""Streaming session windows: bursts separated by quiet gaps must
come out as the same sessions the batch session_window computes, with
still-open sessions correctly withheld in append mode.

A far-future sentinel chunk makes window closure deterministic: the
watermark only advances between micro-batches, and whether a final
no-data flush batch runs under availableNow is timing-dependent — the
sentinel guarantees a data batch whose watermark is past every burst
session's end."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_window_dgim_traffic_spark.streaming import jobs as J

GAP_SEC = 60
BURSTS = [0, 300, 600]  # burst starts, 5 min apart (>> gap)
PER_BURST = 40  # 1 row/s inside a burst
SENTINELS = ("2026-01-01T02:00:00.000000", "2026-01-01T04:00:00.000000")
BURST_CUTOFF = "2026-01-01 01:00:00"


def _ts(sec: int) -> str:
    return f"2026-01-01T00:{sec // 60:02d}:{sec % 60:02d}.000000"


def _burst_rows():
    rows, i = [], 0
    for b in BURSTS:
        for k in range(PER_BURST):
            rows.append({"bit": i % 2, "ts": _ts(b + k)})
            i += 1
    return rows


def _sentinel_rows(which: int):
    return [{"bit": 0, "ts": SENTINELS[which]}, {"bit": 1, "ts": SENTINELS[which]}]


SCHEMA = T.StructType(
    [
        T.StructField("bit", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


@pytest.fixture(scope="module")
def burst_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("burst_traffic")
    rows = _burst_rows()
    per = len(rows) // 3
    for c in range(3):
        with open(f"{d}/chunk_{c}.json", "w") as f:
            f.write(
                "\n".join(json.dumps(r) for r in rows[c * per : (c + 1) * per])
            )
    # two sentinel chunks: the watermark from sentinel A's batch is
    # what closes burst 2, and it is only APPLIED in the next data
    # batch — sentinel B guarantees that batch exists (a trailing
    # no-data flush batch is timing-dependent under availableNow)
    for which in (0, 1):
        with open(f"{d}/chunk_{3 + which}_sentinel.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in _sentinel_rows(which)))
    # the file source orders by modification time; equal mtimes make
    # pickup order arbitrary, and a sentinel processed early turns
    # every burst row late (dropped past the watermark) — force the
    # intended replay order
    for i, name in enumerate(sorted(os.listdir(d))):
        os.utime(f"{d}/{name}", (1000000000 + i * 60, 1000000000 + i * 60))
    return str(d)


def _stream(spark, path):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .json(path)
    )


def _batch_sessions(spark, keyed: bool):
    df = spark.createDataFrame(
        [
            (r["bit"], r["ts"].replace("T", " "))
            for r in _burst_rows() + _sentinel_rows(0) + _sentinel_rows(1)
        ],
        "bit int, ts_str string",
    ).select("bit", F.to_timestamp("ts_str").alias("ts"))
    keys = ["bit"] if keyed else []
    out = (
        df.groupBy(*keys, F.session_window("ts", f"{GAP_SEC} seconds").alias("w"))
        .agg(
            F.sum("bit").cast("bigint").alias("ones_exact"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            *keys,
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end_plus_gap"
            ),
            "ones_exact",
            "n_rows",
        )
        .collect()
    )
    key = (
        (lambda r: (r["bit"], r["session_start"], r["session_end_plus_gap"]))
        if keyed
        else (lambda r: (r["session_start"], r["session_end_plus_gap"]))
    )
    return {key(r): (r["ones_exact"], r["n_rows"]) for r in out}


def test_stream_sessions_match_batch(spark, burst_dir):
    J.run_stream_to_memory(
        J.session_exact_stream(_stream(spark, burst_dir), gap_sec=GAP_SEC),
        "t_sessions",
    )
    got = {
        (r["session_start"], r["session_end_plus_gap"]): (
            r["ones_exact"],
            r["n_rows"],
        )
        for r in spark.sql("SELECT * FROM t_sessions").collect()
    }
    expect = _batch_sessions(spark, keyed=False)
    assert len(expect) == len(BURSTS) + 2  # gaps really split sessions
    # every emitted session equals its batch twin; every burst session
    # is deterministically closed; sentinel sessions may or may not be
    assert got.items() <= expect.items()
    burst_expect = {k: v for k, v in expect.items() if k[0] < BURST_CUTOFF}
    burst_got = {k: v for k, v in got.items() if k[0] < BURST_CUTOFF}
    assert burst_got == burst_expect
    assert len(burst_got) == len(BURSTS)


def test_stream_sessions_keyed(spark, burst_dir):
    """Keyed sessions (the 100 TB path: state partitions by key).
    Bits alternate 0/1 each second, so per-bit sessions still split at
    the burst gaps — one 20-row session per key per burst."""
    J.run_stream_to_memory(
        J.session_exact_stream(
            _stream(spark, burst_dir), gap_sec=GAP_SEC, key_cols=["bit"]
        ),
        "t_sessions_keyed",
    )
    rows = spark.sql("SELECT * FROM t_sessions_keyed").collect()
    got = {
        (r["bit"], r["session_start"], r["session_end_plus_gap"]): (
            r["ones_exact"],
            r["n_rows"],
        )
        for r in rows
    }
    expect = _batch_sessions(spark, keyed=True)
    assert got.items() <= expect.items()
    per_key = {}
    for r in rows:
        if r["session_start"] < BURST_CUTOFF:
            per_key.setdefault(r["bit"], []).append(r["n_rows"])
    assert set(per_key) == {0, 1}
    for counts in per_key.values():
        assert len(counts) == len(BURSTS)
        assert all(c == PER_BURST // 2 for c in counts)


def test_stream_session_dgim_matches_batch(spark, burst_dir):
    """Streaming session DGIM (r10): closed sessions carry the same
    closed-form estimate the batch session family computes — the 4th
    window kind's batch==stream contract."""
    from flink_window_dgim_traffic_spark.dgim import (
        count_estimate_closed,
    )

    J.run_stream_to_memory(
        J.session_dgim_stream(_stream(spark, burst_dir), gap_sec=GAP_SEC),
        "t_sessions_dgim",
    )
    got = {
        (r["session_start"], r["session_end_plus_gap"]): (
            r["count_estimate"],
            r["exact_count"],
            r["n_rows"],
        )
        for r in spark.sql("SELECT * FROM t_sessions_dgim").collect()
    }
    expect = {
        k: (count_estimate_closed(ones), ones, n)
        for k, (ones, n) in _batch_sessions(spark, keyed=False).items()
    }
    assert got.items() <= expect.items()
    burst_got = {k: v for k, v in got.items() if k[0] < BURST_CUTOFF}
    assert len(burst_got) == len(BURSTS)
