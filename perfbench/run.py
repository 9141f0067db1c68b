"""Benchmark entry point.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 15 --trace 0

Runs one workload at local[<cores>] with host-derived settings and prints
as its last stdout line one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. The line before it holds the run's
detail (host, seed, samples, fingerprints); the same detail, with the
trace spans, is written under perfbench/.work/results/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"
# run as a script, this file's directory heads sys.path, where trace.py
# would shadow the standard library's trace module: import from the root
sys.path[:] = [str(ROOT)] + [p for p in sys.path if Path(p or ".").resolve() != ROOT / "perfbench"]
# er_batch runs only by hand: BENCHMARK.json leaves it out (see README.md)
WORKLOADS = ("er_batch", "er_longtail", "inc_serve")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(run, trace: bool, session_s: float) -> dict:
    """Run the workload; returns {name: {"value", "unit"}} for every
    metric BENCHMARK.json lists: the per-layer ones when tracing, the
    end-to-end ones otherwise (None where a value is missing)."""
    from perfbench import host, workloads as W

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if trace:
        fn = W.trace_inc if run.workload == "inc_serve" else W.trace_er
        values = fn(run, session_s)
    else:
        fn = W.run_inc if run.workload == "inc_serve" else W.run_er
        values = fn(run, session_s)
        rss = host.peak_rss_mb()
        values["peak_rss_mb"] = sum(rss.values())
        run.detail["peak_rss_mb_by_process"] = rss
    return {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]}
            for m in spec["per_layer" if trace else "end_to_end"]}


def inputs_dir(workload: str, seed: int) -> Path:
    """Cache dir of a workload's generated inputs (same sizes, seed and
    generator version: same files)."""
    from perfbench import workloads as W

    return WORK / "inputs" / (
        f"{workload}-{W.size_key(workload)}-seed{seed}-gen{W.gen.GEN_VERSION}")


def start_session(run_dir: Path):
    """local[cores] session with host-derived settings and its scratch
    under run_dir; returns (spark, seconds to start it)."""
    from perfbench import host
    from session_graph_spark.session import bench_shuffle_partitions, get_spark

    shutil.rmtree(run_dir, ignore_errors=True)
    host.configure_env(ROOT, run_dir)
    cores = host.cores()
    heap = host.driver_heap_mb()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=bench_shuffle_partitions(cores),
        extra_conf={"spark.local.dir": str(run_dir / "spark-local"),
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
                    # JVM temp files (native libs, artifacts) stay in the
                    # run dir; no hsperfdata file under /tmp. The heap and
                    # its young generation have fixed sizes: G1 otherwise
                    # sizes both from GC-time and pause heuristics that
                    # follow the host's speed, and the JVM's peak RSS
                    # varied 1.6-2.8 GB between runs of one workload
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData "
                        f"-Xms{heap}m -Xmn{heap // 4}m"})
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=60)


def _remove_stale_runs() -> None:
    """Scratch dirs of runs whose process is gone (a killed run cannot
    clean up after itself)."""
    for d in WORK.glob("run-*"):
        pid = d.name.split("-", 1)[1]
        if pid.isdigit() and not Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        import session_graph_spark  # noqa: F401 - the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    from perfbench import host, workloads as W

    _remove_stale_runs()
    run_dir = WORK / f"run-{os.getpid()}"
    spark, session_s = start_session(run_dir)
    run = W.Run(spark, args.workload, args.seed, args.seconds, run_dir,
                inputs_dir(args.workload, args.seed), host.cores())
    try:
        metrics = measure(run, bool(args.trace), session_s)
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    for m in metrics.values():
        if not (isinstance(m["value"], (int, float)) and math.isfinite(m["value"])):
            m["value"] = None  # missing or not a number: the run is not correct
    complete = all(m["value"] is not None for m in metrics.values())
    correct = run.failed == 0 and run.attempted > 0 and complete
    detail = {"workload": args.workload, "trace": args.trace,
              "host": host.host_info(args.seed), "sizes": W.SIZES[args.workload],
              "failed_frac": run.failed / max(run.attempted, 1),
              "errors": run.errors[:5], **run.detail}
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json") \
        .write_text(json.dumps({**detail, "metrics": metrics}, indent=1, default=str))
    detail.pop("spans", None)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
