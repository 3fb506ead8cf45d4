"""Process-level plumbing shared by the workloads: work directory,
Spark session with box-fit settings, clocks, statistics, memory probe
and the result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")


def now() -> float:
    return time.perf_counter()


def make_workdir(workload: str, seed: int) -> str:
    """Fresh per-process scratch directory inside the checkout: Spark's
    local dirs, the warehouse and the JVM's and Python's temp files all
    go here (the caller removes it at exit)."""
    path = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(path, sub))
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(path, "spark-local")
    return path


def cores() -> int:
    """Spark task slots: one fewer than the usable cores (at most 3), so
    the driver's own threads, the benchmark client and the collector
    keep a core. On a 4-vCPU virtual machine local[3] ran the window ops
    faster than local[4] and with less spread between runs (a stolen or
    busy vCPU no longer stalls a stage's last task)."""
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


# Fixed-size driver heap (-Xms = -Xmx), well under the machine's RAM.
# The heap is touched in full on every run, so peak RSS reads the heap
# plus the JVM's native memory and is steady; a heap that grows on
# demand made peak RSS depend on when the collector chose to grow it
# (a spread of 0.15 over five seeds).
HEAP = "1g"


def start_spark(workdir: str, trace: bool):
    """The engine's own session factory, with only box-fit overrides:
    local[n] with n < the usable cores, a driver heap well under the
    machine's RAM, and every scratch path inside ``workdir`` (Spark's
    local dirs come from ``SPARK_LOCAL_DIRS``, set by make_workdir)."""
    from getml_community_spark.session import get_spark

    n = cores()
    tmp = os.path.join(workdir, "tmp")
    conf = {
        "spark.driver.memory": HEAP,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} "
            f"-Xms{HEAP} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # counters are read after every op; the raised retention guards
        # against one op running more than the default 1000 stages
        conf.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon it forked) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM (``VmHWM``)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def median(xs) -> float:
    return float(statistics.median(xs))


def geomean(xs) -> float:
    xs = list(xs)
    return float(math.exp(sum(math.log(x) for x in xs) / len(xs)))


def tail(xs) -> tuple[float, int]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile). Nearest-rank on the sorted samples; with ten or
    fewer samples there is no such percentile and the maximum is
    returned with percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return float(s[-1]), 100
    idx = n - 11  # ten samples strictly beyond s[idx]
    pct = int(math.floor(100.0 * (idx + 1) / n))
    return float(s[idx]), pct


@dataclass
class Tally:
    """Ops attempted / failed; an op whose output check fails is a
    failed op."""

    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(tally: Tally, metrics: dict) -> None:
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
