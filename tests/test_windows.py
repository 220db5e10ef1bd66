"""Windowed operators: exact tumble/hop vs. a hand-rolled pandas
oracle, DGIM paths vs. error bound + cross-path agreement."""

import pandas as pd
import pytest

from flink_window_dgim_traffic_spark.operators import windows as W


@pytest.fixture(scope="module")
def events_pdf(events):
    pdf = events.select("event_id", "ts").toPandas()
    pdf["bit"] = (pdf["event_id"] % 2).astype(int)
    return pdf


def pandas_tumble(pdf, size=60):
    es = (pdf["ts"] - pd.Timestamp(0)) // pd.Timedelta(seconds=1)  # epoch sec
    we = (es // size + 1) * size
    g = pdf.assign(we=we).groupby("we")
    return {
        pd.Timestamp(k, unit="s").strftime("%Y-%m-%d %H:%M:%S"): (
            int(v["bit"].sum()),
            len(v),
        )
        for k, v in g
    }


def test_tumble_exact_matches_pandas(events, events_pdf):
    got = {
        r["window_end"]: (r["ones_exact"], r["n_rows"])
        for r in W.tumble_exact(events).collect()
    }
    assert got == pandas_tumble(events_pdf)


def test_hop_exact_row_multiplicity(events, events_pdf):
    rows = W.hop_exact(events, 60, 10).collect()
    # every event lands in exactly 6 windows
    assert sum(r["n_rows"] for r in rows) == 6 * len(events_pdf)
    assert sum(r["ones_exact"] for r in rows) == 6 * int(events_pdf["bit"].sum())
    # window bounds are 60 s apart and slide-aligned
    for r in rows[:50]:
        s = pd.Timestamp(r["window_start"])
        e = pd.Timestamp(r["window_end"])
        assert (e - s).total_seconds() == 60
        assert s.second % 10 == 0


def test_tumble_dgim_bound_and_exact_twin(events, events_pdf):
    oracle = pandas_tumble(events_pdf)
    for r in W.tumble_dgim(events).collect():
        exact, _ = oracle[r["window_end"]]
        assert r["exact_count"] == exact
        assert exact / 2 - 1 <= r["count_estimate"] <= 1.5 * exact + 1


def test_dgim_estimate_col_equals_closed_form(spark):
    """The native closed-form Column equals ``dgim.count_estimate_closed``
    in both modes, in one ``spark.range`` job, for n = 0..5000, every
    2^k - 1, 2^k and 2^k + 1 with k <= 61 (where a floating-point
    log2 would be off by one), and NULL, which gives 0."""
    from pyspark.sql import functions as F

    from flink_window_dgim_traffic_spark.dgim import (
        MODE_JAVA,
        MODE_PYFLINK,
        count_estimate_closed,
    )

    dense, edges = 5001, 62 * 3
    i = F.col("id")
    e = i - dense
    n = (
        F.when(i < dense, i)
        .when(
            i < dense + edges,
            F.call_function(
                "shiftleft", F.lit(1).cast("bigint"), (e / 3).cast("int")
            )
            + F.pmod(e, F.lit(3))
            - 1,
        )
        .cast("bigint")
    )  # the last id is NULL
    rows = (
        spark.range(dense + edges + 1)
        .select(n.alias("n"))
        .select(
            "n",
            W.dgim_estimate_col("n", MODE_JAVA).alias("java"),
            W.dgim_estimate_col(F.col("n"), MODE_PYFLINK).alias("pyflink"),
        )
        .collect()
    )
    assert len(rows) == dense + edges + 1
    seen = {r["n"] for r in rows}
    assert set(range(dense)) <= seen and None in seen
    assert {(1 << 61) - 1, 1 << 61, (1 << 61) + 1} <= seen
    for r in rows:
        if r["n"] is None:
            assert (r["java"], r["pyflink"]) == (0, 0)
            continue
        assert r["java"] == count_estimate_closed(r["n"], MODE_JAVA), r
        assert r["pyflink"] == count_estimate_closed(r["n"], MODE_PYFLINK), r


def test_dgim_paths_agree(events):
    """applyInPandas, collect_list+UDF, and two-phase replay the same
    per-window stream; single-partition replay paths must agree
    exactly, two-phase within the merge error bound."""
    a = {
        r["window_end"]: r["count_estimate"]
        for r in W.tumble_dgim(events).collect()
    }
    b = {
        r["window_end"]: r["count_estimate"]
        for r in W.tumble_dgim_collect(events).collect()
    }
    assert a == b
    tp = {
        r["window_end"]: (r["count_estimate"], r["exact_count"])
        for r in W.tumble_dgim_two_phase(events).collect()
    }
    assert set(tp) == set(a)
    for we, (est, exact) in tp.items():
        assert exact / 2 - 1 <= est <= 1.5 * exact + 1


def test_tumble_dgim_fast_identical_to_replay(events):
    """The g(sum(bit)) rewrite must reproduce full replay exactly —
    per window, both modes (the rewrite's validity proof lives in
    test_dgim.py::test_estimate_is_pure_function_of_count)."""
    for mode in ("java", "pyflink"):
        fast = {
            (r["window_end"]): (r["count_estimate"], r["exact_count"])
            for r in W.tumble_dgim_fast(events, mode=mode).collect()
        }
        replay = {
            (r["window_end"]): (r["count_estimate"], r["exact_count"])
            for r in W.tumble_dgim(events, mode=mode).collect()
        }
        assert fast == replay


def test_hop_dgim_fast_identical_to_replay(events):
    fast = {
        (r["window_start"], r["window_end"]): (r["count_estimate"], r["exact_count"])
        for r in W.hop_dgim_fast(events, 60, 10).collect()
    }
    replay = {
        (r["window_start"], r["window_end"]): (r["count_estimate"], r["exact_count"])
        for r in W.hop_dgim(events, 60, 10).collect()
    }
    assert fast == replay


def test_hop_dgim_bound(events):
    rows = W.hop_dgim(events, 60, 10).collect()
    assert len(rows) > 0
    for r in rows:
        assert (
            r["exact_count"] / 2 - 1
            <= r["count_estimate"]
            <= 1.5 * r["exact_count"] + 1
        )


def test_tumble_dgim_by_user_consistency(events):
    """Keyed sketch: per-user exacts roll up to the global window
    exact, and every estimate equals g(exact) (no expiry possible)."""
    from flink_window_dgim_traffic_spark.dgim import count_estimate_table

    by_user = W.tumble_dgim_by_user_fast(events).collect()
    glob = {
        r["window_end"]: r["exact_count"]
        for r in W.tumble_dgim_fast(events).collect()
    }
    agg = {}
    for r in by_user:
        agg[r["window_end"]] = agg.get(r["window_end"], 0) + r["exact_count"]
    assert all(agg.get(we, 0) == v for we, v in glob.items())
    tab = count_estimate_table(
        max(r["exact_count"] for r in by_user), "java"
    )
    assert all(r["count_estimate"] == tab[r["exact_count"]] for r in by_user)


def test_sql_registered_dgim_matches_dataframe_path(spark, sf_dir, events):
    """The SQL-registered DGIM_ESTIMATE function (the reference's
    createTemporarySystemFunction shape) must produce exactly the
    DataFrame replay path's estimates."""
    from flink_window_dgim_traffic_spark.operators import sql_surface as Q

    via_sql = {
        r["window_end"]: (r["count_estimate"], r["exact_count"])
        for r in Q.sql_tumble_dgim(spark, sf_dir).collect()
    }
    via_df = {
        r["window_end"]: r["count_estimate"]
        for r in W.tumble_dgim(events).collect()
    }
    assert set(via_sql) == set(via_df)
    for we, (est, exact) in via_sql.items():
        assert est == via_df[we]
        assert exact / 2 - 1 <= est <= 1.5 * exact + 1


def test_sql_twins_equal_dataframe_windows(spark, sf_dir, events):
    """The spark.sql TVF twins (past the driver's correctness window,
    oracle entries retained) must return exactly the DataFrame path's
    rows — they are the same logical plan expressed in SQL."""
    from flink_window_dgim_traffic_spark.operators import sql_surface as Q

    assert sorted(
        map(tuple, Q.sql_tumble_exact(spark, sf_dir, 60).collect())
    ) == sorted(map(tuple, W.tumble_exact(events, 60).collect()))
    assert sorted(
        map(tuple, Q.sql_hop_exact(spark, sf_dir, 60, 10).collect())
    ) == sorted(map(tuple, W.hop_exact(events, 60, 10).collect()))


def test_tumble_1h_aggregates_60s_windows(events):
    """tumble_exact(3600) must equal the per-hour rollup of
    tumble_exact(60): window widths nest exactly."""
    from datetime import datetime, timedelta

    fmt = "%Y-%m-%d %H:%M:%S"
    fine = W.tumble_exact(events, 60).collect()
    coarse = {
        r["window_end"]: (r["ones_exact"], r["n_rows"])
        for r in W.tumble_exact(events, 3600).collect()
    }
    agg: dict = {}
    for r in fine:
        # a 60 s window (we-60, we] lies in the hour window ending at
        # the first hour boundary >= we
        we = datetime.strptime(r["window_end"], fmt)
        rem = (we.minute * 60 + we.second) % 3600
        hour_end = we if rem == 0 else we + timedelta(seconds=3600 - rem)
        key = hour_end.strftime(fmt)
        o, n = agg.get(key, (0, 0))
        agg[key] = (o + r["ones_exact"], n + r["n_rows"])
    assert agg == coarse


# ------------------------------------------------------------ CUMULATE


def pandas_cumulate(pdf, max_size=60, step=10):
    """Per-record expansion oracle: a record at epoch second ``es``
    belongs to every cumulative window of its span whose end > es."""
    out = {}
    es_all = (pdf["ts"] - pd.Timestamp(0)) // pd.Timedelta(seconds=1)
    for es, bit in zip(es_all, pdf["bit"]):
        ws = (es // max_size) * max_size
        first = ws + ((es - ws) // step + 1) * step
        for we in range(int(first), int(ws + max_size) + 1, step):
            key = (
                pd.Timestamp(int(ws), unit="s").strftime("%Y-%m-%d %H:%M:%S"),
                pd.Timestamp(int(we), unit="s").strftime("%Y-%m-%d %H:%M:%S"),
            )
            ones, n = out.get(key, (0, 0))
            out[key] = (ones + int(bit), n + 1)
    return out


def test_cumulate_exact_matches_pandas(events, events_pdf):
    got = {
        (r["window_start"], r["window_end"]): (r["ones_exact"], r["n_rows"])
        for r in W.cumulate_exact(events, 60, 10).collect()
    }
    assert got == pandas_cumulate(events_pdf, 60, 10)


def test_cumulate_degenerates_to_tumble_when_step_is_max(events):
    cum = {
        r["window_end"]: (r["ones_exact"], r["n_rows"])
        for r in W.cumulate_exact(events, 60, 60).collect()
    }
    tum = {
        r["window_end"]: (r["ones_exact"], r["n_rows"])
        for r in W.tumble_exact(events, 60).collect()
    }
    assert cum == tum


def test_cumulate_final_window_equals_tumble(events):
    # the last cumulative window of each span IS the tumbling window
    rows = W.cumulate_exact(events, 60, 10).collect()
    finals = {
        r["window_end"]: (r["ones_exact"], r["n_rows"])
        for r in rows
        if r["window_end"].endswith(":00")
        and (
            pd.Timestamp(r["window_end"]) - pd.Timestamp(r["window_start"])
        ).total_seconds() == 60
    }
    tum = {
        r["window_end"]: (r["ones_exact"], r["n_rows"])
        for r in W.tumble_exact(events, 60).collect()
    }
    # every tumble window whose end is a span boundary must appear
    for k, v in finals.items():
        assert tum[k] == v
    assert len(finals) == len(tum)


def test_cumulate_dgim_bound_and_degeneration(events):
    rows = W.cumulate_dgim(events, 60, 10).collect()
    assert len(rows) > 0
    for r in rows:
        # DGIM 50% bound (java rounding): estimate within [exact/2, 3/2*exact]+1
        assert r["count_estimate"] <= 1.5 * r["exact_count"] + 1
        assert r["count_estimate"] >= 0.5 * r["exact_count"] - 1
    # step == max degenerates to tumble_dgim (same windows, same sketch)
    cum = {
        r["window_end"]: (r["count_estimate"], r["exact_count"])
        for r in W.cumulate_dgim(events, 60, 60).collect()
    }
    tum = {
        r["window_end"]: (r["count_estimate"], r["exact_count"])
        for r in W.tumble_dgim(events, 60).collect()
    }
    assert cum == tum


def test_hop_dgim_bound_closed_form_equals_replay(events):
    """The bound query's closed-form g(exact) must equal the replayed
    sketch estimate window-by-window — the anchor that lets the DuckDB
    oracle hash-check hop-DGIM estimate VALUES."""
    bound = {
        (r["window_start"], r["window_end"]): (
            r["count_estimate"],
            r["exact_count"],
        )
        for r in W.hop_dgim_bound(events, 60, 10).collect()
    }
    replay = {
        (r["window_start"], r["window_end"]): (
            r["count_estimate"],
            r["exact_count"],
        )
        for r in W.hop_dgim(events, 60, 10).collect()
    }
    assert bound == replay
    for r in W.hop_dgim_bound(events, 60, 10).collect():
        assert r["abs_err"] == abs(r["count_estimate"] - r["exact_count"])
        assert r["within_bound"] == (r["abs_err"] * 2 <= r["exact_count"])


def test_cumulate_dgim_bound_closed_form_equals_replay(events):
    """Same anchor for CUMULATE: no bucket expires inside a window
    (span ≤ horizon), so replay == g(exact) for every cumulative
    window."""
    bound = {
        (r["window_start"], r["window_end"]): (
            r["count_estimate"],
            r["exact_count"],
        )
        for r in W.cumulate_dgim_bound(events, 60, 10).collect()
    }
    replay = {
        (r["window_start"], r["window_end"]): (
            r["count_estimate"],
            r["exact_count"],
        )
        for r in W.cumulate_dgim(events, 60, 10).collect()
    }
    assert bound == replay


def test_window_anomalies_flags_extreme_window(spark):
    """A hand corpus where one window has 10x the typical count:
    exactly that window is flagged; near-median windows are not."""
    import itertools

    from flink_window_dgim_traffic_spark.operators.windows import (
        window_anomalies,
    )
    from pyspark.sql import functions as F

    rows = []
    eid = itertools.count()
    # five normal windows with ~4 ones each, one burst window with 40
    for w, n_ones in enumerate([4, 5, 4, 40, 3, 4]):
        for i in range(n_ones):
            rows.append(
                (next(eid) * 2 + 1, 1, f"2026-01-01 00:{w:02d}:{i:02d}")
            )
    df = spark.createDataFrame(
        [(e, u, t, "view", 0.0) for (e, u, t) in rows],
        "event_id long, user_id long, ts_s string, event_type string, "
        "value double",
    ).select(
        "event_id", "user_id",
        F.to_timestamp("ts_s").alias("ts"), "event_type", "value",
    )
    got = {
        r["window_end"]: r["is_anomaly"]
        for r in window_anomalies(df, 60).collect()
    }
    assert sum(got.values()) == 1
    assert got["2026-01-01 00:04:00"] == 1  # the burst window (w=3)


# ----------------------------------------------------------------------
# Round-4 window-family additions
# ----------------------------------------------------------------------
def _ev(spark, rows):
    """rows: (event_id, epoch_sec, user_id, event_type)"""
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(i, s, u, t, 0.0, "{}") for (i, s, u, t) in rows],
        "event_id long, sec long, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.timestamp_seconds("sec").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def test_window_topn_hand_vector(spark):
    # window (0,60]: user 1 -> 3 events, user 2 -> 2, user 3 -> 1;
    # window (60,120]: users 4 and 5 tie at 1 -> user_id tie-break
    rows = [
        (0, 1, 1, "a"), (1, 2, 1, "a"), (2, 3, 1, "a"),
        (3, 4, 2, "a"), (4, 5, 2, "a"), (5, 6, 3, "a"),
        (6, 61, 5, "a"), (7, 62, 4, "a"),
    ]
    got = [
        (r["window_end"][-8:], r["user_id"], r["n_events"], r["rnk"])
        for r in W.window_topn(_ev(spark, rows), 60, 2)
        .orderBy("window_end", "rnk")
        .collect()
    ]
    assert got == [
        ("00:01:00", 1, 3, 1),
        ("00:01:00", 2, 2, 2),
        ("00:02:00", 4, 1, 1),
        ("00:02:00", 5, 1, 2),
    ]


def test_ewma_anomaly_hand_vector(spark):
    # counts per window: 2, 2, 8 (odd event_ids are the 1-bits)
    rows = []
    eid = 1
    for w, ones in ((0, 2), (60, 2), (120, 8)):
        for k in range(ones):
            rows.append((eid, w + k + 1, 0, "a"))
            eid += 2  # keep event_id odd -> bit 1
    df = W.ewma_anomaly(_ev(spark, rows), 60, lookback=20, factor=2)
    got = {
        r["window_end"][-8:]: (
            r["ones_exact"], r["ewma_e6"], r["is_anomaly"]
        )
        for r in df.collect()
    }
    # w1: no history.  w2: hist=[2] -> ewma exactly 2.
    # w3: hist=[2,2] -> ewma 2; 8 > 2*2 -> anomaly.
    assert got["00:01:00"] == (2, 0, 0)
    assert got["00:02:00"] == (2, 2000000, 0)
    assert got["00:03:00"] == (8, 2000000, 1)


def test_ewma_binary_decay_weights(spark):
    # hist [4, 0]: lag2 weight 1/4, lag1 weight 1/2, denom 3/4 ->
    # ewma = (4*2^18) / (2^20 - 2^18) = 4/3 -> 1333333 micro
    rows = [(1, 1, 0, "a"), (3, 2, 0, "a"), (5, 3, 0, "a"),
            (7, 4, 0, "a"),               # w1: 4 ones
            (2, 61, 0, "a"),              # w2: 0 ones (even ids)
            (9, 121, 0, "a")]             # w3: 1 one
    df = W.ewma_anomaly(_ev(spark, rows), 60)
    got = {r["window_end"][-8:]: r["ewma_e6"] for r in df.collect()}
    assert got["00:03:00"] == 1333333


def test_anomaly_drilldown_only_anomalous_windows(spark, sf_dir):
    from flink_window_dgim_traffic_spark.session import table

    ev = table(spark, sf_dir, "events")
    anom = {
        r["window_end"]
        for r in W.window_anomalies(ev, 60)
        .filter("is_anomaly = 1")
        .collect()
    }
    drill = W.anomaly_drilldown(ev, 60).collect()
    assert {r["window_end"] for r in drill} <= anom
    # event counts per window reconcile with the windows' row counts
    per_win = {}
    for r in drill:
        per_win[r["window_end"]] = per_win.get(r["window_end"], 0) + r[
            "n_events"
        ]
    exact = {
        r["window_end"]: r["n_rows"]
        for r in W.tumble_exact(ev, 60).collect()
    }
    for wend, n in per_win.items():
        assert exact[wend] == n


def test_windowed_distinct_users_approx_bound(spark, sf_dir):
    from flink_window_dgim_traffic_spark.session import table

    ev = table(spark, sf_dir, "events")
    exact = {
        r["window_end"]: r["n_users"]
        for r in W.windowed_distinct_users(ev, 3600).collect()
    }
    approx = {
        r["window_end"]: r["n_users_approx"]
        for r in W.windowed_distinct_users_approx(ev, 3600, 0.02).collect()
    }
    assert set(exact) == set(approx)
    for wend, n in exact.items():
        # HLL++ rsd=0.02: allow 5 sigma plus integer slack
        assert abs(approx[wend] - n) <= max(2, 0.1 * n), (wend, n)


def test_sql_window_topn_equals_dataframe(spark, sf_dir):
    from flink_window_dgim_traffic_spark.operators import sql_surface as Q
    from flink_window_dgim_traffic_spark.session import table

    ev = table(spark, sf_dir, "events")
    a = {tuple(r) for r in W.window_topn(ev, 60, 3).collect()}
    b = {tuple(r) for r in Q.sql_window_topn(spark, sf_dir, 60, 3).collect()}
    assert a == b


def test_gap_fill_tumble_zero_fill_and_locf(spark):
    """A missing window between observations must appear zero-filled
    and flagged, with the LOCF column carrying the last observed
    count across the gap."""
    import datetime

    from flink_window_dgim_traffic_spark.operators import windows as W

    base = datetime.datetime(2024, 1, 1)
    mk = lambda s: base + datetime.timedelta(seconds=s)
    # windows :01 (2 events, 1 one-bit) and :04 (1 event) — :02/:03 gap
    ev = spark.createDataFrame(
        [(1, mk(10)), (2, mk(20)), (5, mk(190))],
        "event_id long, ts timestamp",
    )
    rows = {
        r["window_end"]: (
            r["ones_exact"], r["n_rows"], r["is_gap"], r["ones_locf"]
        )
        for r in W.gap_fill_tumble(ev, 60).collect()
    }
    assert rows == {
        "2024-01-01 00:01:00": (1, 2, 0, 1),
        "2024-01-01 00:02:00": (0, 0, 1, 1),
        "2024-01-01 00:03:00": (0, 0, 1, 1),
        "2024-01-01 00:04:00": (1, 1, 0, 1),
    }


def test_m4_downsample_hand_computed(spark):
    """Per bucket: first/last by (ts, event_id), min/max raw values —
    including a same-timestamp tie broken by event_id."""
    import datetime

    from flink_window_dgim_traffic_spark.operators import windows as W

    base = datetime.datetime(2024, 1, 1)
    mk = lambda s: base + datetime.timedelta(seconds=s)
    ev = spark.createDataFrame(
        [
            (10, mk(0), 5.0),
            (11, mk(0), 7.0),    # same ts as event 10: eid orders it 2nd
            (12, mk(300), -1.0),
            (13, mk(500), 9.0),
            (20, mk(700), 2.0),  # second bucket
        ],
        "event_id long, ts timestamp, value double",
    )
    rows = {
        r["window_end"]: (
            r["v_first"], r["v_last"], r["v_min"], r["v_max"], r["n_rows"]
        )
        for r in W.m4_downsample(ev, 600).collect()
    }
    assert rows == {
        "2024-01-01 00:10:00": (5.0, 9.0, -1.0, 9.0, 4),
        "2024-01-01 00:20:00": (2.0, 2.0, 2.0, 2.0, 1),
    }


def test_max_concurrency_hand_computed(spark):
    """Sweep-line peak: overlapping half-open intervals, a bucket
    whose first change is a −1 must still see the carried-in level,
    and end==start instants cancel (half-open semantics)."""
    import datetime

    from flink_window_dgim_traffic_spark.operators import windows as W

    base = datetime.datetime(2024, 1, 1)
    mk = lambda s: base + datetime.timedelta(seconds=s)
    # A [0,100), B [50,150), C [100,200): at t=100 A closes and C
    # opens (net 0 → level stays 2); peak is 2 throughout.
    iv = spark.createDataFrame(
        [(mk(0), mk(100)), (mk(50), mk(150)), (mk(100), mk(200))],
        "start_ts timestamp, end_ts timestamp",
    )
    rows = {
        r["window_end"]: (r["max_concurrent"], r["n_changes"])
        for r in W.max_concurrency(iv, bucket_sec=60).collect()
    }
    # bucket :01 holds t=0 (lvl 1) and t=50 (lvl 2) → peak 2
    # bucket :02 holds t=100 (net 0, lvl 2) → peak 2
    # bucket :03 holds t=150 (lvl 1) → carried-in 2 wins
    # bucket :04 holds t=200 (lvl 0) → carried-in 1 wins
    assert rows == {
        "2024-01-01 00:01:00": (2, 2),
        "2024-01-01 00:02:00": (2, 1),
        "2024-01-01 00:03:00": (2, 1),
        "2024-01-01 00:04:00": (1, 1),
    }


def test_max_concurrency_shard_invariance(spark, events):
    """The sharded prefix sum is bit-identical for ANY shard width
    and any input partitioning (prefix sums are associative) — the
    partitioning-invariance pin for the 100 TB shape where the
    distinct-instant series never crosses a single partition."""
    import pyspark.sql.functions as F

    from flink_window_dgim_traffic_spark.operators import windows as W

    iv = events.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.min("ts").alias("start_ts"),
        (F.max("ts") + F.expr("INTERVAL 60 SECONDS")).alias("end_ts"),
    )
    key = lambda df: sorted(map(tuple, df.collect()))
    ref = key(W.max_concurrency(iv, bucket_sec=600))
    assert ref  # non-trivial series
    # odd shard width -> change instants split across many shards
    assert key(W.max_concurrency(iv, bucket_sec=600, shard_sec=7)) == ref
    # pathological input partitioning
    assert (
        key(W.max_concurrency(iv.repartition(17), bucket_sec=600))
        == ref
    )


def test_time_weighted_avg_hand_computed(spark):
    """LOCF weighting: value 1.00 holds 600 s then 3.00 holds to the
    window end (1200 s) → TWA = (100·600e6 + 300·1200e6) div 1800e6
    = 233; a burst of samples at one instant gets zero weight for
    all but the last."""
    import datetime

    from flink_window_dgim_traffic_spark.operators import windows as W

    base = datetime.datetime(2024, 1, 1)
    mk = lambda s: base + datetime.timedelta(seconds=s)
    ev = spark.createDataFrame(
        [
            (1, mk(0), 7, 1.00),
            (2, mk(600), 7, 3.00),
            # user 8: two samples at the same instant — the earlier
            # (by event_id) gets dt=0, the later holds to window end
            (3, mk(0), 8, 9.00),
            (4, mk(0), 8, 5.00),
        ],
        "event_id long, ts timestamp, user_id long, value double",
    )
    rows = {
        (r["user_id"], r["window_end"]): (
            r["twa_c"], r["dur_us"], r["n_rows"]
        )
        for r in W.time_weighted_avg(ev, 1800).collect()
    }
    assert rows == {
        (7, "2024-01-01 00:30:00"): (233, 1_800_000_000, 2),
        (8, "2024-01-01 00:30:00"): (500, 1_800_000_000, 2),
    }


# ----------------------------------------------------------------------
# Round-7 window-family completions: Window Dedup + Window Join
# ----------------------------------------------------------------------
def test_window_dedup_first_last(spark):
    from pyspark.sql import functions as F

    rows = [
        # window [0,60): user 1 has 3 events, user 2 has 1
        (5, 10, 1, "view"),
        (2, 20, 1, "click"),
        (9, 50, 1, "purchase"),
        (3, 30, 2, "view"),
        # window [60,120): user 1 again — same second, id tiebreak
        (7, 70, 1, "view"),
        (6, 70, 1, "click"),
    ]
    df = _ev(spark, rows)
    first = {
        (r["window_end"], r["user_id"]): r["event_id"]
        for r in W.window_dedup(df, 60, keep="first").collect()
    }
    assert first[("1970-01-01 00:01:00", 1)] == 5  # earliest ts wins
    assert first[("1970-01-01 00:01:00", 2)] == 3
    assert first[("1970-01-01 00:02:00", 1)] == 6  # ts tie -> min id
    last = {
        (r["window_end"], r["user_id"]): r["event_id"]
        for r in W.window_dedup(df, 60, keep="last").collect()
    }
    assert last[("1970-01-01 00:01:00", 1)] == 9
    assert last[("1970-01-01 00:02:00", 1)] == 7  # ts tie -> max id
    # rank-free plan: an aggregation, not a row_number window
    plan = (
        W.window_dedup(df, 60)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "row_number" not in plan and "Window" not in plan


def test_window_join_modes(spark):
    rows_l = [
        (1, 10, 1, "view"),
        (2, 70, 1, "view"),
        (3, 15, 2, "view"),
    ]
    rows_r = [
        (10, 30, 1, "purchase"),   # same window as l:1
        (11, 95, 2, "purchase"),   # window 2, user 2 — no view there
        (12, 40, 1, "purchase"),   # same window as l:1 (2nd partner)
    ]
    l, r = _ev(spark, rows_l), _ev(spark, rows_r)
    inner = sorted(
        (x["window_end"], x["user_id"], x["l_event_id"], x["r_event_id"])
        for x in W.window_join(l, r, 60).collect()
    )
    assert inner == [
        ("1970-01-01 00:01:00", 1, 1, 10),
        ("1970-01-01 00:01:00", 1, 1, 12),
    ]
    semi = sorted(
        (x["window_end"], x["user_id"], x["l_event_id"])
        for x in W.window_join(l, r, 60, how="left_semi").collect()
    )
    assert semi == [("1970-01-01 00:01:00", 1, 1)]
    anti = sorted(
        (x["window_end"], x["user_id"], x["l_event_id"])
        for x in W.window_join(l, r, 60, how="left_anti").collect()
    )
    assert anti == [
        ("1970-01-01 00:01:00", 2, 3),
        ("1970-01-01 00:02:00", 1, 2),
    ]
    import pytest as _pt

    with _pt.raises(ValueError):
        W.window_join(l, r, 60, how="full")
    with _pt.raises(ValueError):
        W.window_dedup(l, 60, keep="any")


def test_window_join_hop_mode(spark):
    # size 60, slide 30: l at t=70 covers windows starting 30 and 60;
    # r at t=95 covers windows starting 60 and 90 -> one shared
    # window [60,120) (end 00:02:00)
    l = _ev(spark, [(1, 70, 1, "view")])
    r = _ev(spark, [(10, 95, 1, "purchase")])
    inner = sorted(
        (x["window_end"], x["user_id"], x["l_event_id"], x["r_event_id"])
        for x in W.window_join(l, r, 60, slide_sec=30).collect()
    )
    assert inner == [("1970-01-01 00:02:00", 1, 1, 10)]
    # r2 at t=40 shares windows [30,90) AND... l covers starts {30,60},
    # r2 covers starts {0,30} -> shared start 30 -> end 00:01:30
    r2 = _ev(spark, [(11, 40, 1, "purchase")])
    inner2 = sorted(
        x["window_end"]
        for x in W.window_join(l, r2, 60, slide_sec=30).collect()
    )
    assert inner2 == ["1970-01-01 00:01:30"]
    # anti in hop mode: per-window absence
    anti = sorted(
        (x["window_end"], x["l_event_id"])
        for x in W.window_join(
            l, r, 60, slide_sec=30, how="left_anti"
        ).collect()
    )
    assert anti == [("1970-01-01 00:01:30", 1)]
    # tumble path unchanged: size must be a multiple of slide
    import pytest as _pt

    with _pt.raises(ValueError):
        W.window_join(l, r, 60, slide_sec=25)


def test_window_join_cumulate_mode(spark):
    # span 60, step 30: a row joins in the END of every cumulative
    # window of its span that covers it.  l at t=70 (span [60,120))
    # is covered by ends {90, 120}; r at t=95 only by end {120};
    # r3 at t=80 by ends {90, 120}.
    l = _ev(spark, [(1, 70, 1, "view")])
    r = _ev(spark, [(10, 95, 1, "purchase")])
    inner = sorted(
        (x["window_end"], x["user_id"], x["l_event_id"], x["r_event_id"])
        for x in W.window_join(l, r, 60, cumulate_step_sec=30).collect()
    )
    assert inner == [("1970-01-01 00:02:00", 1, 1, 10)]
    r3 = _ev(spark, [(12, 80, 1, "purchase")])
    inner3 = sorted(
        (x["window_end"], x["l_event_id"], x["r_event_id"])
        for x in W.window_join(l, r3, 60, cumulate_step_sec=30).collect()
    )
    assert inner3 == [
        ("1970-01-01 00:01:30", 1, 12),
        ("1970-01-01 00:02:00", 1, 12),
    ]
    # different spans never join: r2 at t=40 lives in span [0,60)
    r2 = _ev(spark, [(11, 40, 1, "purchase")])
    assert (
        W.window_join(l, r2, 60, cumulate_step_sec=30).count() == 0
    )
    # anti is per cumulative window: l's end 90 has no r partner
    anti = sorted(
        (x["window_end"], x["l_event_id"])
        for x in W.window_join(
            l, r, 60, cumulate_step_sec=30, how="left_anti"
        ).collect()
    )
    assert anti == [("1970-01-01 00:01:30", 1)]
    # step=size degenerates to the tumble join (one end per span)
    tumble = sorted(
        map(tuple, W.window_join(l, r, 60).collect())
    )
    degen = sorted(
        map(
            tuple,
            W.window_join(l, r, 60, cumulate_step_sec=60).collect(),
        )
    )
    assert degen == tumble
    import pytest as _pt

    with _pt.raises(ValueError):
        W.window_join(l, r, 60, cumulate_step_sec=25)
    with _pt.raises(ValueError):
        W.window_join(l, r, 60, slide_sec=30, cumulate_step_sec=30)


def test_window_join_property_equals_bruteforce(spark):
    """All window_join modes (tumble / hop / cumulate × inner / semi /
    anti) must equal a pure-Python brute force over arbitrary event
    sets — ties, empty sides, multi-window spans, shared users."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    SIZE, STEP = 60, 30

    def covering_ends(t, mode):
        if mode == "tumble":
            return [(t // SIZE) * SIZE + SIZE]
        if mode == "hop":
            p = t // STEP
            return [
                s * STEP + SIZE for s in range(p - 1, p + 1)
            ]
        ws = (t // SIZE) * SIZE
        first = ws + ((t - ws) // STEP + 1) * STEP
        return list(range(first, ws + SIZE + 1, STEP))

    def brute(lrows, rrows, mode, how):
        lmap = [
            (e, u, end)
            for (e, t, u) in lrows
            for end in covering_ends(t, mode)
        ]
        rset = {
            (u, end)
            for (_, t, u) in rrows
            for end in covering_ends(t, mode)
        }
        rmap = [
            (e, u, end)
            for (e, t, u) in rrows
            for end in covering_ends(t, mode)
        ]
        fmt = lambda end: (
            f"1970-01-01 00:{end // 60:02d}:{end % 60:02d}"
        )
        if how == "inner":
            return sorted(
                (fmt(le_end), u, le, re)
                for (le, u, le_end) in lmap
                for (re, ru, re_end) in rmap
                if u == ru and le_end == re_end
            )
        if how == "left_semi":
            return sorted(
                (fmt(end), u, e)
                for (e, u, end) in lmap
                if (u, end) in rset
            )
        return sorted(
            (fmt(end), u, e)
            for (e, u, end) in lmap
            if (u, end) not in rset
        )

    ev_strategy = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),   # event_id suffix
            st.integers(min_value=0, max_value=179),  # ts seconds
            st.integers(min_value=1, max_value=3),    # user
        ),
        min_size=0,
        max_size=12,
        unique_by=lambda x: x[0],
    )

    @settings(max_examples=8, deadline=None)
    @given(ev_strategy, ev_strategy)
    def run(lrows, rrows):
        # distinct event ids across sides
        lrows = [(e, t, u) for (e, t, u) in lrows]
        rrows = [(e + 100, t, u) for (e, t, u) in rrows]
        l = _ev(spark, [(e, t, u, "view") for e, t, u in lrows])
        r = _ev(spark, [(e, t, u, "purchase") for e, t, u in rrows])
        for mode, kw in (
            ("tumble", {}),
            ("hop", {"slide_sec": STEP}),
            ("cumulate", {"cumulate_step_sec": STEP}),
        ):
            for how in ("inner", "left_semi", "left_anti"):
                got = sorted(
                    tuple(x)
                    for x in W.window_join(
                        l, r, SIZE, how=how, **kw
                    ).collect()
                )
                assert got == brute(lrows, rrows, mode, how), (
                    mode, how,
                )

    run()


def test_session_dgim_closed_form_equals_replay(spark, events):
    """The 4th window kind for the sketch family (r10): per-session
    closed-form g(ones) must equal a DIRECT sequential DGIM replay of
    each session's bits with horizon ≥ the session span — the same
    within-horizon equivalence the tumble/hop/cumulate families pin.
    Session membership replays the engine's gap semantics (new
    session at gap ≥)."""
    from pyspark.sql import functions as F

    from flink_window_dgim_traffic_spark.dgim import DGIM

    got = {
        (r["user_id"], r["session_start"]): (
            r["count_estimate"],
            r["exact_count"],
            r["n_rows"],
        )
        for r in W.session_dgim(events.limit(4000)).collect()
    }
    rows = (
        events.limit(4000)
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            (F.col("event_id") % 2).cast("int").alias("bit"),
            "ts",
        )
        .orderBy("user_id", "us")
        .collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    want = {}
    for uid, rs in by_user.items():
        sess, prev = [], None
        for r in rs:
            if prev is None or r["us"] - prev >= 14_400 * 1_000_000:
                sess.append([])
            sess[-1].append(r)
            prev = r["us"]
        for s in sess:
            span = (s[-1]["us"] - s[0]["us"]) // 1_000_000 + 1
            sk = DGIM(max(int(span), 1) + 1)
            ones = 0
            for r in s:
                if r["bit"] == 1:
                    sk.add(r["us"] // 1_000_000)
                    ones += 1
            key = (uid, s[0]["ts"].strftime("%Y-%m-%d %H:%M:%S"))
            want[key] = (sk.estimate(), ones, len(s))
    assert got == want


def test_two_phase_bound_anchors(events):
    """r11 bound anchors: the two-phase verdict column must be TRUE on
    every window (the C/2..3C/2 merge guarantee), the estimate column
    must be gone (it has no SQL twin), and the exact counts must equal
    the plain tumble/hop aggregation."""
    tb = W.tumble_dgim_two_phase_bound(events, 60)
    assert set(tb.columns) == {
        "window_end", "exact_count", "n_rows", "within_bound"
    }
    rows = tb.collect()
    assert rows and all(r["within_bound"] for r in rows)
    exact = {
        r["window_end"]: r["ones_exact"]
        for r in W.tumble_exact(events, 60).collect()
    }
    assert {r["window_end"]: r["exact_count"] for r in rows} == exact

    hb = W.hop_dgim_two_phase_bound(events, 60, 10).collect()
    assert hb and all(r["within_bound"] for r in hb)


def test_windowed_distinct_approx_bound(events):
    """HLL per-window envelope: every window's verdict TRUE, exact
    counts equal the exact twin."""
    b = W.windowed_distinct_users_approx_bound(events, 60)
    rows = b.collect()
    assert rows and all(r["within_bound"] for r in rows)
    exact = {
        r["window_end"]: r["n_users"]
        for r in W.windowed_distinct_users(events, 60).collect()
    }
    assert {r["window_end"]: r["n_users"] for r in rows} == exact
