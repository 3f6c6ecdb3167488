"""Benchmark of the production extraction job, driven through its CLI entry.

    python3 jobbench/run.py --workload sweep_job --seed 1 --seconds 10 --trace 0

One process, one client, closed loop: each job is a call of
``universal_key_value_based_text_processing_with_ocr_spark.__main__.main``
and starts after the previous one has committed.  The master is
``local[<cores of this host>]``, passed to Spark from outside.  Inputs are
seeded pages tables (``inputs.py``), materialised before anything is timed.

The last stdout line is one JSON object: ``correct``, ``attempted`` and
``failed`` (input documents), and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # a run changes no file outside .jobbench/
BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(ROOT))

import harness  # noqa: E402
import jobs  # noqa: E402

WORK_DIR = ROOT / ".jobbench"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(jobs.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    ap.add_argument(
        "--drop-committed-row", action="store_true",
        help="self-test: delete one committed row before the checks",
    )
    ap.add_argument(
        "--kernel-fault", action="store_true",
        help="self-test: the blended kernel raises on every page (fault_daemon.py)",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    w = (jobs.TINY if args.tiny else jobs.WORKLOADS)[args.workload]
    run_dir = WORK_DIR / "tmp" / f"run-{os.getpid()}-{time.time_ns()}"
    cache = WORK_DIR / "inputs"
    try:
        confs = {}
        if args.kernel_fault:
            import fault_daemon

            fault_daemon.install()  # the oracle, in this process
            confs["spark.python.daemon.module"] = "fault_daemon"  # the workers
            os.environ["PYTHONPATH"] = os.pathsep.join([str(BENCH_DIR), str(ROOT)])
        harness.configure_env(run_dir, harness.cores(), confs)
        if args.trace:
            import traced

            result = traced.run(args.workload, w, args, cache, run_dir)
        else:
            result = jobs.run_untraced(args.workload, w, args, cache, run_dir / "tables")
    finally:
        harness.stop_spark()
        harness.reap_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
