"""Host-derived Spark settings and process-tree memory readings.

Everything here is read from the machine the benchmark runs on: the
usable core count (what `env -u OMP_NUM_THREADS nproc` prints), the
driver heap as a share of /proc/meminfo, and the Java and pyspark
versions each result records."""

from __future__ import annotations

import os
import re
import subprocess
from pathlib import Path

# local mode runs every task inside the driver JVM, and the Python
# workers need memory beside it; 40% of RAM leaves room for both on a
# host shared with other processes
HEAP_SHARE = 0.4
HEAP_MAX_MB = 8192
HEAP_MIN_MB = 1024


def cores() -> int:
    """Cores this process may run on (nproc without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    text = Path("/proc/meminfo").read_text()
    kb = int(re.search(r"^MemTotal:\s+(\d+) kB", text, re.M).group(1))
    return kb // 1024


def driver_heap_mb() -> int:
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, int(mem_total_mb() * HEAP_SHARE)))


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=30).stderr
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    m = re.search(r'version "([^"]+)"', out)
    return m.group(1) if m else "unknown"


def host_info(seed: int) -> dict:
    import pyspark

    return {
        "cores": cores(),
        "mem_total_mb": mem_total_mb(),
        "driver_heap_mb": driver_heap_mb(),
        "pyspark": pyspark.__version__,
        "java": java_version(),
        "seed": seed,
    }


def configure_env(root: Path, run_dir: Path) -> None:
    """Environment the JVM and its Python workers inherit: must run
    before the first SparkSession starts. Spark's local dirs and temp
    files go under run_dir."""
    for d in ("spark-local", "tmp"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_heap_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ.pop("OMP_NUM_THREADS", None)


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU time counters (the `cpu` line of
    /proc/stat: user, nice, system, idle, iowait, irq, softirq, steal)."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two cpu_ticks() readings that the
    hypervisor gave to other guests (steal). A timed operation with a
    high share ran on a contended host."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        text = Path(f"/proc/{pid}/status").read_text()
    except OSError:
        return 0
    m = re.search(r"^VmHWM:\s+(\d+) kB", text, re.M)
    return int(m.group(1)) if m else 0


def peak_rss_mb() -> dict[str, float]:
    """Memory high-water marks (VmHWM, MB) of this process and every live
    descendant, summed by command name (java: the JVM; python: this
    driver and the Spark Python workers). A sum of per-process peaks
    bounds the simultaneous peak from above."""
    seen: set[int] = set()
    todo = [os.getpid()]
    out: dict[str, float] = {}
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            comm = Path(f"/proc/{pid}/comm").read_text().strip()
        except OSError:
            continue
        kind = "java" if comm == "java" else "python" if comm.startswith("python") else "other"
        out[kind] = out.get(kind, 0.0) + _hwm_kb(pid) / 1024.0
        todo += _children(pid)
    return out
