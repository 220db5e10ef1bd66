"""Benchmark of the DGIM traffic pipeline.

    python3 perfbench/run.py --workload stream_backlog --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout.  Prints, as the last line of standard
output, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``.  Spans of a
traced run go to ``perfbench/.work/trace-<workload>-<seed>.json``.
Everything the run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import this directory as the ``perfbench`` package, never its modules
# by bare name
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path[0] = ROOT

from perfbench.tracing import MemorySampler, Tracer, log  # noqa: E402
# Engine start-ups per run; setup_s is their median.  One: each costs
# 7-9 s here, and a full benchmark pass (4 + 22 runs per workload) must
# fit its time budget.
SETUPS = 1
DRIVER_MEM = "1g"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> dict:
    """Keep every file Spark and Python write inside the checkout, and
    size the engine to this machine before any JVM starts.  Returns the
    Spark settings the benchmark adds to ``get_spark``'s."""
    tmp = os.path.join(work, "tmp")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.ui.showConsoleProgress": "false",
        # the JVM's temporary files and its /tmp/hsperfdata counters
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _import_program():
    """The package must come from this checkout, nowhere else."""
    import flink_window_dgim_traffic_spark as pkg

    where = os.path.dirname(os.path.abspath(pkg.__file__))
    if os.path.dirname(where) != ROOT:
        raise RuntimeError(f"package imported from {where}, not this checkout")


class Run:
    """One benchmark run: engine, tracer, work directory, seed, length."""

    def __init__(self, workload, seed, seconds, tracer, work, conf) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tracer, self.work, self.conf = tracer, work, conf
        self.spark = None
        self.setup_s: list[float] = []
        self._stopped: list = []  # keeps old contexts alive (see stop)

    def start(self, n: int) -> None:
        """Bring the engine up ``n`` times from a cold JVM, timing each
        start-up, and keep the last one running."""
        from flink_window_dgim_traffic_spark.session import get_spark

        for i in range(n):
            if self.spark is not None:
                self.stop()
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark(
                    app_name=f"perfbench-{self.workload}", extra_conf=self.conf)
            self.setup_s.append(time.perf_counter() - t0)
            log(f"engine start-up {i + 1}/{n}: {self.setup_s[-1]:.2f} s")

    def stop(self) -> None:
        """Stop the session and its JVM, so that a later start is cold.
        The stopped session object is kept: ``ship_package`` remembers
        contexts by ``id``, which a collected object could hand on."""
        from pyspark import SparkContext

        self.spark.stop()
        self._stopped.append(self.spark)
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def single_core(self, measure):
        """``measure(run)`` on a ``local[1]`` engine: the single-threaded
        baseline.  Leaves the engine stopped."""
        from flink_window_dgim_traffic_spark.session import get_spark

        self.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        try:
            self.spark = get_spark(app_name="perfbench-local1", extra_conf=self.conf)
            return measure(self)
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
            self.stop()


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    spec = _spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _import_program()
    conf = _prepare_env(work)
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(bool(a.trace))
    run = Run(a.workload, a.seed, a.seconds, tracer, work, conf)
    try:
        with MemorySampler() as mem:
            run.start(SETUPS)
            t0 = time.perf_counter()
            with tracer.span(f"workload.{a.workload}"):
                res = WORKLOADS[a.workload](run)
            traced_wall = time.perf_counter() - t0
            if run.spark is not None:
                run.stop()
        log("workload done; peak memory " + ", ".join(
            f"{name} {r / 2**20:.0f} MB" for name, r in sorted(
                mem.peak_tree.values(), key=lambda x: -x[1])))
        tally = res["tally"]
        for e in tally.errors:
            print("CHECK FAILED:", e, file=sys.stderr)
        if a.trace:
            tracer.write(os.path.join(
                HERE, ".work", f"trace-{a.workload}-{a.seed}.json"))
            values = {
                "session.get_spark_s": statistics.median(run.setup_s),
                "latency_samples": res["latency_samples"],
                "trace.events_per_s": res["e2e"]["events_per_s"],
                "trace.latency_p50_ms": res["e2e"]["latency_p50_ms"],
                "trace.spans": len(tracer.spans),
                "trace.workload_s": traced_wall,
                **res["layers"],
            }
            wanted = spec["per_layer"]
        else:
            values = {
                "setup_s": statistics.median(run.setup_s),
                "peak_rss_mb": mem.peak / 2**20,
                **res["e2e"],
            }
            wanted = spec["end_to_end"]
        metrics = {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        }
        print(json.dumps({
            "correct": tally.failed == 0 and not tally.errors,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": metrics,
        }))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            run.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
