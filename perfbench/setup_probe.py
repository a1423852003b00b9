"""Engine set-up as a user pays it, and the Spark settings every
benchmark process shares.

Run as a script it starts a fresh interpreter's session, times
``session.get_spark`` and ``registry.load_all``, prints both as one JSON
line and stops the session; the benchmark runs it several times per run
and reports the median. With ``--drain`` it instead drains an audit
corpus through the backlog pipeline on the given master (the traced
run's single-core baseline) and prints the drain's MB/s.

Usage: python3 setup_probe.py --work DIR [--master local[1] --drain DIR --manifest M]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench_env(work: str) -> dict[str, str]:
    """Environment for the benchmark's Spark processes: every scratch
    file (block manager, Python temp files) stays under ``work``, and
    Spark's Python workers import the engine from the checkout."""
    nproc = len(os.sched_getaffinity(0))
    return {
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_CPUS": str(nproc),
        # a bounded driver heap keeps the benchmark small on a shared box
        # and its peak RSS steadier; every input fits in it many times over
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    }


def spark_conf(work: str) -> dict[str, str]:
    """JVM scratch under ``work`` too; no hsperfdata file in /tmp."""
    tmp = os.path.join(work, "tmp")
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.driver.extraJavaOptions": java,
        "spark.executor.extraJavaOptions": java,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def prepare(work: str) -> None:
    env = bench_env(work)
    os.environ.update(env)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def timed_setup(work: str, master: str | None = None, tracer=None):
    """(spark, get_spark seconds, load_all seconds)."""
    from contextlib import nullcontext

    from oraaud_kafka_spark import registry
    from oraaud_kafka_spark.session import get_spark

    span = tracer.span if tracer is not None else (lambda name: nullcontext())
    t0 = time.perf_counter()
    with span("session.get_spark"):
        spark = get_spark(app_name="perfbench", master=master, extra_conf=spark_conf(work))
    t1 = time.perf_counter()
    with span("registry.load_all"):
        registry.load_all()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and every
    process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    from measure import alive, descendants

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(alive(p) for p in started):
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--work", required=True)
    ap.add_argument("--master")
    ap.add_argument("--drain")
    ap.add_argument("--manifest")
    a = ap.parse_args(argv)
    prepare(a.work)
    spark, get_s, load_s = timed_setup(a.work, a.master)
    try:
        out = {"get_spark_s": get_s, "load_all_s": load_s}
        if a.drain:
            import workloads

            out["mb_per_s"] = workloads.single_drain_mb_per_s(spark, a.work, a.drain, a.manifest)
        print(json.dumps(out))
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
