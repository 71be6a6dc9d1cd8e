"""The benchmark's SparkSession: one configuration for every workload,
sized from this host's core count and memory, and the set-up timing.

    python3 perfbench/session.py --probe WORK_DIR

times one set-up (import of ``traject_spark`` plus SparkSession start) in
a fresh process, prints ``SETUP <seconds>`` and stops the session.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host() -> dict:
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {"cpus": cpus, "mem_gb": round(mem_kb / (1 << 20), 1)}


def heap_gb() -> int:
    """The driver's heap in GiB: a quarter of RAM, at most 4."""
    return max(1, min(4, int(host()["mem_gb"]) // 4))


def session_conf(work: str) -> dict:
    """Spark settings of every benchmark session. Sizing comes from the
    host only, so parent and change get identical settings on one box."""
    h = host()
    return {
        "spark.master": f"local[{h['cpus']}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{heap_gb()}g",
        "spark.sql.shuffle.partitions": str(4 * h["cpus"]),
        "spark.sql.session.timeZone": "UTC",
        # one task per input file: without this, small files are packed
        # into tasks by size, so the task count would depend on the seed
        "spark.sql.files.openCostInBytes": str(128 << 20),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every stage, job and SQL execution back
        # from the status store after each call: retain them all
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed heap and young generation: G1 resizes neither, so the
        # eden size (1.2-1.8 GB at a 3 GB heap) is not chosen afresh in
        # every process
        "spark.driver.extraJavaOptions": f"-Xms{heap_gb()}g"
        f" -Xmn{heap_gb() * 1024 // 3}m"
        " -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
    }


def prepare_env(work: str) -> None:
    """Keep temp files inside ``work`` and let Python workers import the
    package from the checkout. Call before the first pyspark import."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start(work: str):
    """Import the package and start the session; -> (spark, seconds)."""
    t0 = time.perf_counter()
    import traject_spark  # noqa: F401
    import traject_spark.cli  # noqa: F401
    import traject_spark.corpus  # noqa: F401
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in session_conf(work).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits when its
    stdin closes) and wait for it."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--probe":
        sys.exit("usage: session.py --probe WORK_DIR")
    work_dir = os.path.abspath(sys.argv[2])
    prepare_env(work_dir)
    spark_, secs = start(work_dir)
    try:
        print(f"SETUP {secs!r}", flush=True)
    finally:
        shutdown(spark_)
