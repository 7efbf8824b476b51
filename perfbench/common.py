"""Session build, process bookkeeping and the result record shared by
both workloads."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from spans import Tracer

#: one process on four local cores; every workload uses the same session
MASTER = "local[4]"
SETUP_REPEATS = 3


@dataclass
class Result:
    """What one workload run measured. ``ops_s`` are the measured
    operations' durations; ``work`` is the unit count the throughput
    divides by ``wall_s``; ``attempted``/``failed`` count operations;
    ``rss`` is ``peak_rss()`` read when the measured region ends, before
    the checks."""

    ops_s: list[float]
    work: float
    wall_s: float
    attempted: int
    failed: int
    rss: dict[str, float]
    detail: str = ""
    layers: dict[str, float] = field(default_factory=dict)


def session_conf(work_dir: str, traced: bool) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    # a traced run keeps every job and stage record so that one read of
    # the status store after the measured region sees all of them
    keep = {"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"}
    return (keep if traced else {}) | {
        # a bounded heap instead of the package's 16g default, fixed at
        # its full size from the start (-Xms below): a heap left to grow
        # grew unevenly from run to run and spread the JVM's peak RSS by
        # 25% across seeds
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g",
    }


def build_session(work_dir: str, tracer: Tracer, prepare) -> tuple[object, list[float], float]:
    """Build the session ``SETUP_REPEATS`` times, stopping the previous
    one, each time registering what the workload needs (``prepare``);
    then warm the Python workers once. Returns the last session, the
    seconds each build took and the warm-up seconds."""
    from mi_inbound_pulsar_spark.session import get_spark

    spark, times = None, []
    for _ in range(SETUP_REPEATS):
        t0 = time.time()
        with tracer.span("session.build"):
            if spark is not None:
                spark.stop()
            spark = get_spark("perfbench", master=MASTER, extra_conf=session_conf(work_dir, tracer.enabled))
            prepare(spark)
        times.append(time.time() - t0)
    t0 = time.time()
    with tracer.span("session.warmup"):
        # boots the Arrow Python workers (pandas import) on every core
        spark.range(0, 4, 1, 4).mapInPandas(lambda it: it, "id long").collect()
    return spark, times, time.time() - t0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        for c in _children(p):
            seen.append(c)
            todo.append(c)
    return seen


def peak_rss() -> dict[str, float]:
    """Peak resident memory (VmHWM) in MB of this process
    (``benchmark``), of the JVM it started (``jvm``) and of the Python
    workers the JVM forked (``python_workers``, with ``workers`` their
    number); anything else it started is ``other``. Only live processes
    are seen: a worker that has exited is not counted."""
    out = dict.fromkeys(("benchmark", "jvm", "python_workers", "workers", "other"), 0.0)
    for pid in [os.getpid()] + descendants(os.getpid()):
        name, kb = "", 0
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("Name:"):
                        name = line.split()[1]
                    elif line.startswith("VmHWM:"):
                        kb = int(line.split()[1])
        except OSError:
            continue
        if pid == os.getpid():
            kind = "benchmark"
        elif name == "java":
            kind = "jvm"
        elif name.startswith("python"):
            kind = "python_workers"
            out["workers"] += 1
        else:
            kind = "other"
        out[kind] += kb / 1024.0
    return out


def stop_all(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for every
    process this run started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline:
        left = descendants(os.getpid())
        if not left:
            return
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
