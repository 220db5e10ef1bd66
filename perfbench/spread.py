"""Run-to-run spread of the end-to-end metrics, as the bounds in
``BENCHMARK.json`` were derived.

    python3 perfbench/spread.py --workload stream --seeds 1-10

Runs the benchmark once per seed, one run at a time, and prints for each
end-to-end metric its median and its interquartile range as a share of
the median (quartiles as ``statistics.quantiles(values, n=4)`` gives
them), next to the metric's bound.  Appends each run's result line to
``--out`` and its progress lines to ``--out``.log when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10")
    ap.add_argument("--out")
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    results = []
    for seed in _seeds(a.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=180,
        )
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        results.append(res)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, **res}) + "\n")
            with open(a.out + ".log", "a") as f:
                f.writelines(f"seed {seed} {line}\n" for line in p.stderr.splitlines()
                             if line.startswith("perfbench ["))
        print(f"seed {seed}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{m['name']:>16}: median {med:.4g} {m['unit']}, "
              f"IQR/median {(q3 - q1) / med:.3f} (bound {m['bound']})")
    fails = {(r["failed"], r["attempted"]) for r in results}
    print(f"failed/attempted per run: {sorted(fails)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
