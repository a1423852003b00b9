"""Benchmark entry point: one workload, one seed, one JSON result line.

  python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout and reads and writes only inside it
(scratch under ``.perfbench/``). Untraced (``--trace 0``) it prints the
end-to-end metrics; traced (``--trace 1``) it records spans around each
call into a layer, prints the per-layer metrics, writes the spans to
``.perfbench/traces/`` and reports every layer figure on stderr. The
last stdout line is always the result object; the process exits
non-zero, printing no result, when it cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from measure import Tracer, cpu_ticks, machine_context, steal_pct  # noqa: E402

E2E = (
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("throughput_mb_per_s", "MB/s"),
    ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"),
)
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("registry.load_all_s", "s"),
    ("sources.gate_rejected_files", "count"),
    ("sources.gate_mb_per_s", "MB/s"),
    ("gzip_codec.mb_per_s", "MB/s"),
    ("trace.overhead_pct", "%"),
    ("trace.spans", "count"),
)
# set-up is timed in fresh child processes and then in this process; the
# median of all samples is setup_s
SETUP_SAMPLES = 3


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _child_setup(work: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "setup_probe.py"), "--work", work],
        check=True, capture_output=True, text=True, timeout=170,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def measure(a, work: str, run_id: str, setup_probe, workloads):
    """Set up (several times), run the workload; returns
    (result, setup samples, tracer, peak RSS bytes)."""
    setup_probe.prepare(work)
    samples = [_child_setup(work) for _ in range(SETUP_SAMPLES - 1)]
    tracer = Tracer(run_id)
    tracer.enabled = bool(a.trace)
    spark, get_s, load_s = setup_probe.timed_setup(work, tracer=tracer)
    samples.append({"get_spark_s": get_s, "load_all_s": load_s})
    try:
        run = workloads.Run(spark, work, a.seed, a.seconds, tracer)
        t0 = time.perf_counter()
        res = workloads.WORKLOADS[a.workload](run)
        wall = time.perf_counter() - t0
        _log(f"# {a.workload}: workload wall {wall:.1f} s")
    finally:
        setup_probe.stop_spark(spark)
    if a.trace:
        res.layers["trace.overhead_pct"] = (100 * tracer.cost_s / wall, "%")
    return res, samples, tracer, run.rss.peak


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    context = machine_context()  # before this run starts any JVM
    ticks = cpu_ticks()
    try:
        import setup_probe
        import workloads
    except ImportError as e:
        _log(f"perfbench: cannot import the engine from {ROOT}: {e}")
        return 2
    if a.workload not in workloads.WORKLOADS:
        _log(f"perfbench: unknown workload {a.workload!r}; "
             f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    if a.seconds < 1:
        _log("perfbench: --seconds must be at least 1")
        return 2

    run_id = f"{a.workload}-seed{a.seed}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", run_id)
    os.makedirs(work)
    try:
        res, samples, tracer, peak = measure(a, work, run_id, setup_probe, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup = [s["get_spark_s"] + s["load_all_s"] for s in samples]
    e2e = {"setup_s": statistics.median(setup), "peak_rss_mb": peak / 2**20, **res.e2e}
    layers = {
        "session.get_spark_s": (statistics.median(s["get_spark_s"] for s in samples), "s"),
        "registry.load_all_s": (statistics.median(s["load_all_s"] for s in samples), "s"),
        **res.layers,
        **workloads.layer_self_times(tracer),
        "trace.spans": (len(tracer.spans), "count"),
    }

    context["cpu_steal_pct"] = steal_pct(ticks)
    _log(f"# machine (load and JVMs at start, CPU steal over the run): {json.dumps(context)}")
    _log(f"# setup samples (s), child processes then this one: {[round(x, 3) for x in setup]}")
    for note in res.notes:
        _log(f"# {note}")
    for name, unit in E2E:
        _log(f"{name:<44} {e2e[name]:>14.4f} {unit}")
    if a.trace:
        for name, (value, unit) in sorted(layers.items()):
            _log(f"{name:<44} {value:>14.4f} {unit}")
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.dump(os.path.join(base, "traces", f"{run_id}.json"), {
            "context": context, "e2e": e2e,
            "layers": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
            "problems": res.problems, "notes": res.notes,
        })
    for p in res.problems[:20]:
        _log(f"FAIL {p}")

    if a.trace:
        metrics = {name: {"value": layers[name][0], "unit": unit} for name, unit in PER_LAYER}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in E2E}
    print(json.dumps({
        "correct": not res.problems,
        "attempted": max(res.attempted, 1),
        "failed": len(res.problems),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
