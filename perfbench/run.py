"""Benchmark entry point.

    python3 perfbench/run.py --workload bench_suite --seed 1 --seconds 5 --trace 0

Runs one workload on ``local[4]`` as a single-client closed loop, checks
its outputs, and prints as the last line of standard output one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
Spark's event log is on and the metrics are the per-layer ones, with the
tracing overhead against an untraced repeat (see perfbench/README.md).
The line before it records the input profile and the run environment.
Exits non-zero, printing no result, when the program under test cannot
be imported.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("rich_extract", "chunked_job", "bench_suite")
END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s",
              "peak_rss_mb": "MB"}


def environment() -> dict:
    import pyarrow
    import pyspark

    from perfbench import common

    return {
        "nproc": os.cpu_count(),
        "cores": common.CORES,
        "shuffle_scratch": common.spark_local_dir(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "SPARK_GRAFT_ARROW_BATCH": os.environ.get("SPARK_GRAFT_ARROW_BATCH",
                                                  "2048 (default)"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test must come from this checkout
    import datagen.interleaved  # noqa: F401
    import sparkhtml.spark.session  # noqa: F401

    from perfbench import common

    common.route_scratch()
    workload = importlib.import_module(f"perfbench.{args.workload}")
    res = workload.run(args.seed, args.seconds, bool(args.trace))
    if args.trace:
        from perfbench import layers

        metrics = {k: res.metrics[k] for k in layers.PER_LAYER}
    else:
        metrics = {k: res.metrics[k] for k in END_TO_END}
    print(json.dumps({"workload": args.workload, "profile": res.profile,
                      "environment": environment(), "notes": res.notes}))
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
