"""Tests of the benchmark itself: seeded inputs and the output checker.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from perfbench import check, gen


def _backlog_text(seed: int) -> str:
    return gen.json_lines(gen.backlog_events(seed, 5_000))


def _live_text(seed: int) -> str:
    plan = gen.live_plan(seed, 40, 50, 50_000)
    start_us = 1_760_000_000_000_000
    return "".join(gen.live_file_text(plan, i, start_us) for i in range(40))


def _history_bytes(seed: int, tmp_path, copy: int) -> bytes:
    path = tmp_path / f"history-{seed}-{copy}.parquet"
    gen.write_history(str(path), gen.history_events(seed, 5_000))
    return path.read_bytes()


@pytest.mark.parametrize("make", ["backlog", "live", "history"])
def test_inputs_repeat_for_a_seed_and_differ_across_seeds(make, tmp_path):
    if make == "history":
        a, b, c = (_history_bytes(s, tmp_path, i) for i, s in enumerate((7, 7, 8)))
    else:
        f = _backlog_text if make == "backlog" else _live_text
        a, b, c = f(7), f(7), f(8)
    assert a == b
    assert a != c


def test_backlog_shape():
    ev = gen.backlog_events(3, 20_000)
    assert np.all(np.diff(ev["ts_us"]) > 0)  # in order
    bad = (ev["value_code"] > 1) | (ev["ts_code"] > 0)
    assert 0.005 < bad.mean() < 0.02
    span_s = (ev["ts_us"][-1] - ev["ts_us"][0]) / 1e6
    assert 45 < len(ev["ts_us"]) / span_s < 55


def test_live_plan_out_of_order_share_and_watermark():
    plan = gen.live_plan(3, 200, 100, 50_000)
    late = plan["created_us"] < np.maximum.accumulate(plan["created_us"])
    assert 0.01 < late.mean() < 0.03
    # no event is written more than 10 s (the watermark) after creation
    written = plan["due_us"][plan["file_idx"]]
    assert (written - plan["created_us"]).max() < 10_000_000


def _dgim_by_replay(n: int) -> int:
    """Sequential DGIM inserts with no expiry: keep three equal sizes
    from standing by merging the two older ones; the estimate halves
    the oldest bucket, rounding up, unless it is alone."""
    sizes: list[int] = []  # newest first
    for _ in range(n):
        sizes.insert(0, 1)
        i = 0
        while i + 2 < len(sizes):
            if sizes[i] == sizes[i + 1] == sizes[i + 2]:
                sizes[i + 1] *= 2
                del sizes[i + 2]
                i = 0
            else:
                i += 1
    if not sizes:
        return 0
    if len(sizes) == 1:
        return sizes[0]
    return sum(sizes[:-1]) + (sizes[-1] + 1) // 2


def test_closed_form_matches_replay():
    n = np.arange(0, 600)
    assert check.dgim_closed_form(n).tolist() == [_dgim_by_replay(int(k)) for k in n]


def _result(estimate: str, hop: bool = False) -> tuple[pd.DataFrame, pd.DataFrame, list]:
    ev = gen.backlog_events(5, 30_000)
    ts_sec = ev["ts_us"] // 1_000_000
    bits = (ev["value_code"] == 1).astype(np.int64)
    exp = check.expected_windows(ts_sec, bits, 60, 10 if hop else None)
    got = exp.copy()
    got["count_estimate"] = check.dgim_closed_form(got["exact_count"])
    if estimate == "bound":  # any estimate inside the bound is fine
        got["count_estimate"] = got["exact_count"] // 2
    keys = ["window_start", "window_end"] if hop else ["window_end"]
    return exp, got, keys


@pytest.mark.parametrize("estimate", ["closed", "bound"])
def test_checker_accepts_a_correct_result(estimate):
    exp, got, keys = _result(estimate, hop=estimate == "bound")
    assert check.compare(exp, got, keys, estimate) == []


def test_checker_catches_an_exact_count_off_by_one():
    exp, got, keys = _result("closed")
    got.loc[1, "exact_count"] += 1
    errors = check.compare(exp, got, keys, "closed")
    assert any("wrong exact_count" in e for e in errors)


def test_checker_catches_a_missing_window():
    exp, got, keys = _result("closed")
    errors = check.compare(exp, got.drop(index=2), keys, "closed")
    assert errors == ["1 expected windows missing"]


def test_checker_catches_an_estimate_outside_the_two_phase_bound():
    exp, got, keys = _result("bound", hop=True)
    i = int(np.argmax(got["exact_count"].to_numpy()))
    got.loc[i, "count_estimate"] = 3 * got.loc[i, "exact_count"] // 2 + 2
    errors = check.compare(exp, got, keys, "bound")
    assert errors == ["1 estimates outside C/2-1..3C/2+1"]


def test_checker_catches_an_estimate_off_the_closed_form():
    exp, got, keys = _result("closed")
    got.loc[3, "count_estimate"] += 1
    assert check.compare(exp, got, keys, "closed") == [
        "1 estimates differ from the closed form"
    ]
