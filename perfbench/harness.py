"""Shared plumbing for the perfbench workloads: the host-sized Spark
session, the scratch directory inside the checkout, peak RSS, latency
statistics and a clean JVM shutdown.

Everything the benchmark writes lives under ``.perfbench_work/`` in the
current directory; the run directory is removed when the run ends.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

WORK_ROOT = ".perfbench_work"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_gb() -> float:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return total_kb / (1 << 20)


def driver_memory() -> str:
    """A quarter of host RAM, between 1 and 4 GB: the workloads hold at
    most a few hundred thousand small rows, and the host is shared."""
    return f"{max(1, min(4, int(host_ram_gb() // 4)))}g"


def make_run_dir(workload: str, seed: int) -> str:
    d = os.path.abspath(os.path.join(WORK_ROOT, f"{workload}-s{seed}-p{os.getpid()}"))
    shutil.rmtree(d, ignore_errors=True)
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(d, sub))
    # every temp file of this process, the JVMs (the spark-submit
    # launcher too) and the Python workers lands in the run directory
    os.environ["TMPDIR"] = os.path.join(d, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={d}/tmp -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(d, "local")
    return d


def make_session(run_dir: str, trace: bool):
    """local[nproc] with the bench configuration of tools/bench_session.py
    (AQE, Arrow, UTC, no UI, no console progress), sized to this host.
    ``trace`` turns the Spark event log on."""
    from pyspark.sql import SparkSession

    cpus = host_cpus()
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if trace else "false")
        .config("spark.eventLog.dir", os.path.join(run_dir, "events"))
        .config("spark.eventLog.compress", "false")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this one)."""
    kids = _children()
    out, stack = [], [pid or os.getpid()]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    """The kernel's peak resident set (VmHWM) of one process."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this process, the driver JVM and the
    Python workers: the sum of each live process's kernel-tracked peak
    (VmHWM). Call before the JVM exits; short-lived helpers (the
    launcher) are gone by then and do not count."""
    kb = {p: _hwm_kb(p) for p in [os.getpid(), *descendants()]}
    top = sorted(kb.values(), reverse=True)[:4]
    log("peak RSS of the largest processes (MB):", [round(v / 1024) for v in top])
    return sum(kb.values()) / 1024.0


def p90_if_supported(samples, min_beyond: int = 10):
    """The 90th percentile, or None unless at least ``min_beyond``
    samples lie beyond it (a tail read off fewer samples is noise)."""
    if len(samples) < 2:
        return None
    p90 = statistics.quantiles(samples, n=10)[-1]
    if sum(1 for s in samples if s > p90) < min_beyond:
        return None
    return p90


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    process it started (the Python worker daemon) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = descendants()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 60
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not alive:
            break
        time.sleep(0.1)
    else:
        for p in alive:
            try:
                os.kill(p, 9)
            except OSError:
                pass


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The one result line: the last line of standard output."""
    sys.stdout.flush()
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        ),
        flush=True,
    )


def log(*args) -> None:
    print("[perfbench]", *args, file=sys.stderr, flush=True)
