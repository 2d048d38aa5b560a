#!/usr/bin/env python3
"""Record the per-seed check values of ``perfbench/expected.json``.

    python3 perfbench/record.py --workload flagship --seeds 1-20

For each seed, runs one pass of the workload (and, for ``flagship``, its
traced legs) in one ``local[nproc]`` session, with every oracle check on
but no value band or recorded value, and writes the seed's grid RMSE (and
the kNN RMSE and fold R²) into ``expected.json``. A seed whose pass fails
a check is not recorded. Re-record only for a change to the program that
is meant to change these values, and say so where the change is described.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

import run


def seed_range(text: str) -> list:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def record(wl, spark, seed: int) -> dict | None:
    from workloads import NullTracer, rmse

    wl.prepare(str(run.WORK), seed)
    wl.expected = {"grid_rmse": [0.0, math.inf], "knn_rmse": [0.0, math.inf],
                   "cv_r2": [-math.inf, math.inf], "recorded": {}}
    ledger = run.Ledger(wl)
    out = ledger.run(spark, NullTracer(), thorough=True)[1]
    if out is None:
        return None
    values = {"grid_rmse": rmse(out)}
    for step, check in wl.legs():
        leg = ledger.run(spark, NullTracer(), step=step, check=check)[1]
        if leg is None:
            return None
        values.update({k: leg.extra[k] for k in ("knn_rmse", "fold_r2") if k in leg.extra})
    return values


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seeds", required=True, help="a seed or a range such as 1-20")
    args = ap.parse_args()

    wl = WORKLOADS[args.workload]()
    path = run.ROOT / "perfbench" / "expected.json"
    for sub in ("tmp", "spark-local"):
        (run.WORK / sub).mkdir(parents=True, exist_ok=True)
    spark = run.start_session(len(os.sched_getaffinity(0)))
    failed = []
    try:
        for seed in seed_range(args.seeds):
            t0 = time.perf_counter()
            values = record(wl, spark, seed)
            print(f"{args.workload} seed {seed}: {values} ({time.perf_counter() - t0:.1f} s)",
                  flush=True)
            if values is None:
                failed.append(seed)
                continue
            spec = json.loads(path.read_text())
            spec[args.workload]["recorded"][str(seed)] = values
            spec[args.workload]["recorded"] = dict(
                sorted(spec[args.workload]["recorded"].items(), key=lambda kv: int(kv[0])))
            path.write_text(json.dumps(spec, indent=1) + "\n")
    finally:
        run.stop_session(spark)
    if failed:
        print(f"not recorded, a check failed: seeds {failed}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    run.set_environment()
    sys.path.insert(0, str(run.ROOT))
    sys.exit(main())
