"""Open-loop traffic generator for the ``stream_live`` workload.

Runs as its own process.  File ``i`` is due at ``start + (i+1)·period``
whatever the stream does; each file is written to a staging directory
and renamed into the watched one, so the stream never sees a partial
file.  The log records each file's due and actual write time and the
creation stamp of its newest event.

    python3 perfbench/livegen.py --seed 1 --start-us <epoch µs> \
        --files 100 --per-file 300 --period-us 100000 \
        --out DIR --stage DIR --log FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    for name in ("--seed", "--start-us", "--files", "--per-file", "--period-us"):
        ap.add_argument(name, type=int, required=True)
    for name in ("--out", "--stage", "--log"):
        ap.add_argument(name, required=True)
    a = ap.parse_args(argv)
    plan = gen.live_plan(a.seed, a.files, a.per_file, a.period_us)
    texts = [gen.live_file_text(plan, i, a.start_us) for i in range(a.files)]
    newest = [
        int(a.start_us + plan["created_us"][plan["file_idx"] == i].max())
        for i in range(a.files)
    ]
    log = []
    for i, text in enumerate(texts):
        due = (a.start_us + int(plan["due_us"][i])) / 1e6
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = gen.live_file_name(i)
        tmp = os.path.join(a.stage, name)
        with open(tmp, "w") as f:
            f.write(text)
        os.rename(tmp, os.path.join(a.out, name))
        written = time.time()
        log.append({
            "name": name,
            "due_us": int(due * 1e6),
            "written_us": int(written * 1e6),
            "lag_ms": (written - due) * 1e3,
            "newest_created_us": newest[i],
        })
    with open(a.log, "w") as f:
        json.dump({"files": log}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
