#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {backfill,live_tail,query_mix}
        --seed N --seconds S --trace {0,1} [--cores C]

Runs one workload in a fresh Spark session (``local[C]``, default all
cores) inside a per-run temp root under ``.perfbench_runs/`` in the
checkout, checks its outputs, stops every process it started, and
prints as its last stdout line one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones listed in ``BENCHMARK.json``; with
``--trace 1`` they are the per-layer ones, read from spans recorded
around each layer's public functions, the streaming query's progress
and Spark's event log. The line before it is a summary in the
workload's own terms, with units and sample counts.

Exits 1 without a result when the run times out, and 2 when the
checkout does not hold the package under test.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
PACKAGE = "starknet_indexer_spark"
#: a gated run must end within 180 s; leave room for stopping the JVM.
#: live_tail is not gated and takes longer (see README.md).
DEADLINE_S = {"live_tail": 420}
DEFAULT_DEADLINE_S = 150


def parse(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1,
                    help="local[N] parallelism (1 gives the single-core baseline)")
    return ap.parse_args(argv)


class Stopped(BaseException):
    """The run hit its deadline or was told to terminate. Not an
    ``Exception``, so no handler that isolates one failed operation
    swallows it."""


def _stop(signum, frame):
    raise Stopped(f"run stopped by {signal.Signals(signum).name}")


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(CHECKOUT, PACKAGE, "__init__.py")):
        print(f"no {PACKAGE} package in {CHECKOUT}: nothing to benchmark", file=sys.stderr)
        return 2
    import harness

    root = os.path.join(CHECKOUT, ".perfbench_runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    harness.remove_root(root)
    harness.prepare_env(root, CHECKOUT, args.cores)
    import report
    import workloads

    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), args.cores, root)
    deadline = DEADLINE_S.get(args.workload, DEFAULT_DEADLINE_S)
    # on a deadline or SIGTERM, unwind through the cleanup below
    signal.signal(signal.SIGALRM, _stop)
    signal.signal(signal.SIGTERM, _stop)
    signal.alarm(deadline)
    t_start = time.monotonic()
    result, crash, layers = None, None, None
    try:
        try:
            run.sampler.start()
            run.start_spark()
            from spans import Tracer

            if run.trace:
                run.tracer = Tracer(os.path.basename(root)).install()
            result = workloads.WORKLOADS[args.workload](run)
        except (Exception, Stopped) as exc:  # noqa: BLE001 — report, then stop everything
            crash = exc
            traceback.print_exc(file=sys.stderr)
        finally:
            # whatever happened, stop the query, the generator and the
            # JVM before returning, and fail the run if any process is left
            signal.alarm(max(5, int(deadline + 20 - (time.monotonic() - t_start))))
            problems = run.close()
            signal.alarm(0)
        if run.trace and result is not None:
            layers = report.layer_metrics(run, result)  # reads the closed event log
    finally:
        harness.remove_root(root)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass
    for p in problems:
        print(p, file=sys.stderr)
    for e in run.errors:
        print(f"failed: {e}", file=sys.stderr)
    if crash is not None or result is None:
        return 1
    run.failed += len(problems)
    correct = run.failed == 0
    print(json.dumps(report.summary(run, result)))
    metrics = layers if run.trace else report.end_to_end(run, result)
    print(json.dumps({"correct": correct, "attempted": max(1, run.attempted),
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
