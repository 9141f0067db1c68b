"""Record the output fingerprint of each workload at its current sizes
for a range of seeds, into perfbench/fingerprints.json. Run it after a
change that is meant to change outputs or sizes:

    python3 perfbench/record_fingerprints.py --workload er_longtail --seeds 0-40
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:] = [str(ROOT)] + [p for p in sys.path if Path(p or ".").resolve() != ROOT / "perfbench"]


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    from perfbench.run import WORK, WORKLOADS, inputs_dir, start_session, stop_session

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 0-40")
    args = ap.parse_args(argv)

    from perfbench import checks, host, workloads as W
    from session_graph_spark.plans.pipeline import resolve

    run_dir = WORK / f"record-{os.getpid()}"
    spark, _ = start_session(run_dir)
    table = json.loads(checks.FINGERPRINTS.read_text()) if checks.FINGERPRINTS.exists() else {}
    slot = table.setdefault(args.workload, {}).setdefault(W.size_key(args.workload), {})
    try:
        for seed in _seeds(args.seeds):
            run = W.Run(spark, args.workload, seed, 0, run_dir / str(seed),
                        inputs_dir(args.workload, seed), host.cores())
            if args.workload == "inc_serve":
                data, _ = W._inc_data(run)
                _, fp, _ = W._inc_setup(run, data)
            else:
                path, truth = W._er_inputs(run)
                res = resolve(spark, spark.read.parquet(path))
                fp = checks.result_fingerprint(res)
                f1 = checks.pairwise_f1(spark, res.clusters, truth)
                print(args.workload, seed, "match_f1", f"{f1:.5f}", flush=True)
                res.unpersist()
            spark.catalog.clearCache()
            shutil.rmtree(run.work, ignore_errors=True)
            slot[str(seed)] = fp
            # rewritten after every seed: an interrupted run keeps its work
            checks.FINGERPRINTS.write_text(
                json.dumps(table, indent=1, sort_keys=True) + "\n")
            print(args.workload, seed, fp, flush=True)
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
