"""Benchmark entry point.

    python3 perfbench/run.py --workload <etl_reference|query_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run is one process: it generates
the workload's inputs from ``--seed`` under ``.perfbench_work/``, starts
its own Spark session at ``local[<cpus>]``, runs as many timed
repetitions as ``--seconds`` stands for (``harness.Run.planned_reps``),
checks the engine's outputs, deletes its files,
stops the JVM and prints one JSON object as the last line of standard
output: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, read from Spark's status store around each call into an
engine layer. The line before it holds run details (effective master,
parallelism, shuffle partitions, engine tree id, tail percentile).
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _pin_environment(work: str) -> None:
    """Size the engine to this machine and keep every file it writes
    inside the work directory. Must run before the engine is imported."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    # a 1 GB heap is ample for these inputs; the session commits all of
    # it at launch (see harness.Run.start_session)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full",
                    help="input size; 'small' is for smoke tests")
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    import harness
    import probe
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    if importlib.util.find_spec("movies_etl_spark") is None:
        print("the engine package movies_etl_spark is not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _pin_environment(work)

    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    steal0 = probe.steal_s()
    try:
        workloads.WORKLOADS[args.workload](run, args.size)
        result = run.result()
        run.detail["steal_s"] = round(probe.steal_s() - steal0, 2)
    finally:
        run.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"detail": run.detail}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
