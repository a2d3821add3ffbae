"""Run one benchmark workload and print its result as one JSON line.

    python3 potbench/run.py --workload kv_mixed --seed 1 --seconds 20 --trace 0

Workloads: kv_mixed, kv_lease_churn, spark_pipeline (see README.md).
Each runs a fixed, seeded amount of work; ``--seconds`` is recorded but
does not cut the work short. With ``--trace 0`` the last line carries the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
run; a layer the workload never calls reports 0. Exits non-zero,
printing no result, when the program cannot run.
"""

from __future__ import annotations

import argparse
import sys
import time

from common import ROOT, calibration_ms, nproc, steal_ticks
from layers import LAYER_UNITS

sys.path.insert(0, str(ROOT))

WORKLOADS = ("kv_mixed", "kv_lease_churn", "spark_pipeline")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    rig = {"nproc": nproc(), "seconds_arg": args.seconds, "calib_ms_pre": calibration_ms()}
    steal0, t0 = steal_ticks(), time.perf_counter()
    if args.workload == "spark_pipeline":
        import spark_workload

        res = spark_workload.run(args.seed, bool(args.trace))
    else:
        import kv_workloads

        res, _ = kv_workloads.run(args.workload, args.seed, bool(args.trace))
    if args.trace:
        # every traced run reports every per-layer metric; a layer this
        # workload never calls (HTTP for Spark, queries for KV) reads 0,
        # with a sample count of 0
        for name, unit in LAYER_UNITS.items():
            if name not in res.metrics:
                res.metric(name, 0.0, unit, 0)
    rig["steal_ticks"] = steal_ticks() - steal0
    rig["wall_s"] = time.perf_counter() - t0
    rig["calib_ms_post"] = calibration_ms()
    res.emit(args.workload, args.seed, rig)
    return 0


if __name__ == "__main__":
    sys.exit(main())
