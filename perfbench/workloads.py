"""The two workloads, driven through the engine's public functions.

Each workload takes a ``Run`` (session, work directory, seed, run
length, tracer) and returns a ``Result``: attempted operations, the
problems the checks found, its end-to-end figures (throughput, median
and tail latency) and every per-layer figure it measured. What each
end-to-end name means on each workload is listed in README.md. A traced
run does the same work with spans recorded around each call into a
layer, plus the probes only per-layer figures need.
"""

from __future__ import annotations

import datetime as dt
import inspect
import json
import os
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from oraaud_kafka_spark import registry
from oraaud_kafka_spark.config import EngineConfig
from oraaud_kafka_spark.functions.gzip_codec import conditional_gzip
from oraaud_kafka_spark.sources.audit_xml import (
    complete_only,
    driver_hostname,
    read_audit_batch,
)
from oraaud_kafka_spark.streaming.audit_parse import AUDIT_FIELDS, parse_audit_records
from oraaud_kafka_spark.streaming.ingest import (
    build_ingest_stream,
    kafka_records,
    start_foreach_batch_sink,
)
from oraaud_kafka_spark.testing import run_oracle

import checks
from corpus import MOD
from measure import RssPoller, Tracer, self_times, tail

HERE = os.path.dirname(os.path.abspath(__file__))

# bench.py's HEADLINE roster, in its order; query.<name>_s keeps these
# names so figures line up with bench_history.jsonl by name.
HEADLINE = (
    "q1_pricing_summary",
    "q_join_5way_revenue",
    "q_join_asof",
    "q_agg_rollup",
    "q_window_topk_per_group",
    "q_sort_top10_global",
    "q_json_from_json",
    "q_time_session_window",
    "q_dedup_minhash_lsh",
    "q_sim_cosine_topk_brute",
    "q_text_quality_score",
    "q_emb_centroids",
)

# Backlog phase: ~1 MB files (the reference's recommended maximum), every
# 10th cut short before </Audit>. 16 files per requested second is about
# what the pipeline drains per second on 4 cores, so the drain fills the run.
BACKLOG_FILES_PER_SECOND = 16
BACKLOG_KB = (900, 1000)
INCOMPLETE = 0.1
# Paced phase: 50 files/s of 2-64 KB, 5% incomplete, into the production
# 1000 ms trigger with admission capped at the a2.worker.count maximum
# (150 files per trigger, 3x the arrival rate). The backlog phase drains
# ~15 MB/s; this offers ~1 MB/s.
PACED_RATE = 50.0
PACED_KB = (2, 64)
PACED_INCOMPLETE = 0.05
# audit_analytics: the parse corpus (~1.5 MB, ~2300 records); the table
# scale is tablegen.SF. Parse files are all one size: the parse runs one
# task per file, and mixed sizes in seeded order would make the stage's
# last-task imbalance, and so its time, depend on the seed.
PARSE_FILES, PARSE_KB = 32, (48, 48)


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: int
    tracer: Tracer
    rss: RssPoller = field(default_factory=RssPoller)


@dataclass
class Result:
    attempted: int = 0
    problems: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)      # name -> value
    layers: dict = field(default_factory=dict)   # name -> (value, unit)
    notes: list = field(default_factory=list)


def gen(seed: int, mode: str, stream: str, out: str, manifest: str, files: int,
        first_seq: int, kb: tuple, incomplete: float, wait: bool = True, **extra):
    """Run the corpus generator as its own process; returns the manifest,
    or the running process when ``wait`` is false."""
    cmd = [sys.executable, os.path.join(HERE, "corpus.py"), mode, "--seed", str(seed),
           "--stream", stream, "--out", out, "--manifest", manifest,
           "--files", str(files), "--first-seq", str(first_seq),
           "--min-kb", str(kb[0]), "--max-kb", str(kb[1]),
           "--incomplete", str(incomplete)]
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    if not wait:
        return subprocess.Popen(cmd)
    subprocess.run(cmd, check=True)
    return checks.read_manifest(manifest)


class SinkStub:
    """foreachBatch sink standing in for the broker: materialises the
    exact payload the real sink would send and stamps the end of the
    call. With a gzip threshold it ships key + conditional_gzip(value)
    as ``kinesis_batch_writer`` builds it; otherwise the
    ``kafka_records`` projection."""

    def __init__(self, tracer: Tracer, gzip_threshold: int | None):
        self.tracer = tracer
        self.gzip_threshold = gzip_threshold
        self.parent = None
        self.lock = threading.Lock()
        self.batches: list[tuple[int, float, list]] = []

    def __call__(self, batch_df, batch_id: int) -> None:
        with self.tracer.span("sink.foreach_batch", parent=self.parent):
            if self.gzip_threshold is None:
                shipped = [(r.key, r.value) for r in kafka_records(batch_df).collect()]
            else:
                payloads = batch_df.withColumn(
                    "payload", conditional_gzip(F.col("value"), self.gzip_threshold)
                ).select("key", "payload")
                shipped = [(r.key, r.payload) for r in payloads.collect()]
        end = time.time()
        with self.lock:
            self.batches.append((batch_id, end, shipped))

    def shipped(self, leave_out: set[str]) -> list:
        with self.lock:
            return [kv for _, _, rows in self.batches for kv in rows if kv[0] not in leave_out]

    def end_times(self) -> dict[str, tuple[int, float]]:
        """key -> (batch id, end of the first sink call that shipped it)."""
        out = {}
        with self.lock:
            for bid, end, rows in self.batches:
                for key, _ in rows:
                    out.setdefault(key, (bid, end))
        return out

    def stamps(self, manifest: list[dict], host: str) -> list[tuple]:
        """(manifest row, batch id, sink end) per complete file shipped."""
        ends = self.end_times()
        out = []
        for m in manifest:
            hit = ends.get(checks.expected_key(host, m["path"])) if m["complete"] else None
            if hit is not None:
                out.append((m, hit[0], hit[1]))
        return out


def _ts(progress) -> float:
    return dt.datetime.fromisoformat(progress.timestamp.replace("Z", "+00:00")).timestamp()


def _slope(xs: list[float], ys: list[float]) -> float:
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx if sxx else 0.0


def stream_layers(progress: list, manifest: list[dict], sink: SinkStub, host: str,
                  since: float) -> dict:
    """Per-layer figures from StreamingQueryProgress and the sink stamps,
    for the batches with input that started at or after ``since``."""
    batches = [p for p in progress if p.numInputRows > 0 and _ts(p) >= since - 1.0]
    d = lambda k: [p.durationMs.get(k, 0) for p in batches]  # noqa: E731
    files_in = sum(p.numInputRows for p in batches)
    observed = [(p.observedMetrics or {}).get("ingest_metrics") for p in batches]
    shipped_files = sum((o["files"] or 0) for o in observed if o is not None)
    shipped_bytes = sum((o["bytes"] or 0) for o in observed if o is not None)
    keys = {checks.expected_key(host, m["path"]) for m in manifest}
    bytes_in = sum(m["bytes"] for m in manifest)
    out_bytes = sum(len(v) for k, v in sink.shipped(set()) if k in keys)
    # complete files published but not yet shipped when each batch started
    ends = sink.end_times()
    starts = [_ts(p) for p in batches]
    lag = [sum(1 for m in manifest if m["complete"] and m["published"] <= t
               and ends.get(checks.expected_key(host, m["path"]), (0, 1e18))[1] > t)
           for t in starts]
    trig = d("triggerExecution")
    return {
        "sources.list_ms": (statistics.median(d("latestOffset")), "ms"),
        "ingest.plan_ms": (statistics.median(d("queryPlanning")), "ms"),
        "ingest.commit_ms": (statistics.median(
            [a + b for a, b in zip(d("walCommit"), d("commitOffsets"))]), "ms"),
        "ingest.batch_ms_p50": (statistics.median(trig), "ms"),
        "ingest.batch_ms_max": (max(trig), "ms"),
        "ingest.batches": (len(batches), "count"),
        "ingest.lag_files_max": (max(lag), "files"),
        "ingest.backlog_slope_files_per_s": (
            _slope(starts, lag) if len(batches) > 2 else 0.0, "files/s"),
        "sources.files_in": (files_in, "count"),
        "sources.bytes_admitted": (shipped_bytes, "bytes"),
        "sources.gate_rejected_files": (files_in - shipped_files, "count"),
        "ingest.shipped_over_listed": (shipped_files / files_in if files_in else 0.0, "ratio"),
        "sink.addbatch_ms_per_mb": (sum(d("addBatch")) / (bytes_in / 1e6), "ms/MB"),
        "sink.bytes_out": (out_bytes, "bytes"),
        "sink.compress_ratio": (out_bytes / shipped_bytes if shipped_bytes else 0.0, "ratio"),
        "_trigger_ms": {p.batchId: p.durationMs.get("triggerExecution", 0) for p in batches},
    }


def batch_probes(run: Run, corpus_dir: str, manifest: list[dict], res: Result) -> None:
    """Per-byte layers timed alone over the batch-read corpus: the
    sources.audit_xml decorate + completeness gate, then
    conditional_gzip over the cached gated values (median of 3 each)."""
    spark = run.spark
    mb_in = sum(m["bytes"] for m in manifest) / 1e6
    gate_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        with run.tracer.span("sources.gate_probe"):
            complete_only(read_audit_batch(spark, corpus_dir)).select("key", "value") \
                .write.format("noop").mode("overwrite").save()
        gate_s.append(time.perf_counter() - t0)
    values = complete_only(read_audit_batch(spark, corpus_dir)).select("value").persist()
    try:
        mb_values = values.agg(F.sum(F.octet_length("value"))).first()[0] / 1e6
        gz_s = []
        for _ in range(3):
            t0 = time.perf_counter()
            with run.tracer.span("gzip_codec.probe"):
                values.select(conditional_gzip(F.col("value"), 512).alias("p")) \
                    .write.format("noop").mode("overwrite").save()
            gz_s.append(time.perf_counter() - t0)
    finally:
        values.unpersist()
    res.layers["sources.gate_mb_per_s"] = (mb_in / statistics.median(gate_s), "MB/s")
    res.layers["gzip_codec.mb_per_s"] = (mb_values / statistics.median(gz_s), "MB/s")


# ----------------------------------------------------------------------- ingest
#
# The reference daemon's life: at start it scans the watched directory
# and ships the backlog, then it ships each file as it closes. The
# backlog phase sets throughput_mb_per_s (per-byte work: the gate's
# rtrim/translate and the gzip pandas UDF); the paced phase sets the
# latency figures (per-micro-batch fixed cost: listing, planning,
# offset/commit logs and the 1000 ms trigger cadence).


def _drain(run: Run, cfg: EngineConfig, ckpt: str, sink: SinkStub):
    """One availableNow drain of whatever is in the watched directory;
    returns (start, wall seconds, progress)."""
    t0 = time.time()
    with run.tracer.span("ingest.drain") as sid:
        sink.parent = sid
        with run.tracer.span("sources.build_ingest_stream"):
            df = build_ingest_stream(
                run.spark, cfg.watched_path, max_files_per_trigger=cfg.max_files_per_trigger
            )
        with run.tracer.span("ingest.start_foreach_batch_sink"):
            q = start_foreach_batch_sink(df, sink, checkpoint_dir=ckpt, available_now=True)
        q.awaitTermination()
    wall = time.time() - t0
    if q.exception() is not None:
        raise RuntimeError(f"drain failed: {q.exception()}")
    return t0, wall, q.recentProgress


def single_drain_mb_per_s(spark, work: str, base: str, manifest: str) -> float:
    """Drain ``base``/warm, then time draining ``base``/main."""
    cfg = EngineConfig(watched_path=os.path.join(base, "warm"), target_broker="kinesis")
    run = Run(spark, work, 0, 0, Tracer("1core"))
    sink = SinkStub(run.tracer, cfg.kinesis_gzip_threshold)
    _drain(run, cfg, os.path.join(base, "ckpt_warm"), sink)
    cfg.watched_path = os.path.join(base, "main")
    _, wall, _ = _drain(run, cfg, os.path.join(base, "ckpt_main"), sink)
    return sum(m["bytes"] for m in checks.read_manifest(manifest)) / 1e6 / wall


def _sentinel(run: Run, watched: str, manifest: str) -> set[str]:
    """cleanSource deletes a batch's files when the next batch commits;
    one sentinel file makes the last measured batch's successor. Returns
    the sentinel's key, which the checks leave out (nothing follows it)."""
    m = gen(run.seed, "batch", "flush", watched, manifest, 1, 900_000_000, (1, 2), 0.0)
    return {checks.expected_key(driver_hostname(), x["path"]) for x in m}


def _wait_deleted(manifest: list[dict]) -> None:
    """The source's cleaner deletes asynchronously after the commit."""
    deadline = time.time() + 10.0
    while time.time() < deadline and any(
            os.path.exists(m["path"]) for m in manifest if m["complete"]):
        time.sleep(0.1)


def _prefixed(prefix: str, layers: dict) -> dict:
    return {f"{prefix}.{k}": v for k, v in layers.items() if not k.startswith("_")}


def _backlog_phase(run: Run, res: Result) -> dict:
    work = os.path.join(run.work, "backlog")
    watched, ckpt = os.path.join(work, "watched"), os.path.join(work, "ckpt")
    man = lambda s: os.path.join(work, f"{s}.jsonl")  # noqa: E731
    cfg = EngineConfig(watched_path=watched, target_broker="kinesis")
    host = driver_hostname()
    sink = SinkStub(run.tracer, cfg.kinesis_gzip_threshold)

    manifest = gen(run.seed, "batch", "warm", watched, man("warm"), 24, 0,
                   BACKLOG_KB, INCOMPLETE)
    _drain(run, cfg, ckpt, sink)
    m_win = gen(run.seed, "batch", "backlog", watched, man("backlog"),
                BACKLOG_FILES_PER_SECOND * run.seconds, 100_000, BACKLOG_KB, INCOMPLETE)
    manifest += m_win
    with run.rss:
        t0, wall, progress = _drain(run, cfg, ckpt, sink)
    mb = sum(m["bytes"] for m in m_win) / 1e6
    res.e2e["throughput_mb_per_s"] = mb / wall
    res.notes.append(f"backlog: drained {len(m_win)} files, {mb:.1f} MB in {wall:.2f} s")
    layers = stream_layers(progress, m_win, sink, host, t0)
    waits = [end - t0 for _, _, end in sink.stamps(m_win, host)]
    layers["file_wait_p50_ms"] = (1000 * statistics.median(waits), "ms")

    sentinel = _sentinel(run, watched, man("flush"))
    _drain(run, cfg, ckpt, sink)
    _wait_deleted(manifest)
    res.attempted += len(manifest)
    res.problems += checks.check_ingest(manifest, sink.shipped(sentinel), host,
                                        cfg.kinesis_gzip_threshold)
    res.layers.update(_prefixed("backlog", layers))
    return layers


def _paced_phase(run: Run, res: Result) -> dict:
    work = os.path.join(run.work, "paced")
    watched, ckpt = os.path.join(work, "watched"), os.path.join(work, "ckpt")
    man = lambda s: os.path.join(work, f"{s}.jsonl")  # noqa: E731
    cfg = EngineConfig(watched_path=watched, target_broker="kafka", worker_count=150)
    host = driver_hostname()
    sink = SinkStub(run.tracer, None)
    os.makedirs(watched, exist_ok=True)
    with run.tracer.span("sources.build_ingest_stream"):
        df = build_ingest_stream(run.spark, watched,
                                 max_files_per_trigger=cfg.max_files_per_trigger)
    q = start_foreach_batch_sink(df, sink, checkpoint_dir=ckpt, trigger=cfg.trigger)

    def shipped_all(m: list[dict], timeout: float) -> bool:
        want = {checks.expected_key(host, x["path"]) for x in m if x["complete"]}
        deadline = time.time() + timeout
        while time.time() < deadline:
            if want <= set(sink.end_times()):
                return True
            if q.exception() is not None:
                raise RuntimeError(f"paced query failed: {q.exception()}")
            time.sleep(0.05)
        return False

    try:
        # the backlog phase compiled the pipeline; one wave warms this query
        manifest = gen(run.seed, "batch", "warm", watched, man("warm"), 40, 0,
                       PACED_KB, PACED_INCOMPLETE)
        if not shipped_all(manifest, 60):
            res.problems.append("paced warm-up: not every file shipped within 60 s")

        start = time.time() + 0.3
        proc = gen(run.seed, "paced", "paced", watched, man("paced"),
                   int(PACED_RATE * run.seconds), 100_000, PACED_KB, PACED_INCOMPLETE,
                   wait=False, rate=PACED_RATE, start=start)
        try:
            run.rss.exclude.add(proc.pid)  # the load, not the system
            with run.rss:
                proc.wait(timeout=run.seconds + 60)
                m_win = checks.read_manifest(man("paced"))
                if not shipped_all(m_win, 30):
                    res.problems.append("paced: not every file shipped within 30 s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        manifest += m_win
        stamps = sink.stamps(m_win, host)
        lat = [(end - m["due"]) * 1000 for m, _, end in stamps]
        p, res.e2e["latency_tail_ms"] = tail(lat)
        res.e2e["latency_p50_ms"] = statistics.median(lat)
        res.notes.append(f"paced: latency_tail_ms is p{p:g} of n={len(lat)} files, "
                         "from due time to the end of the shipping sink call")

        layers = stream_layers(q.recentProgress, m_win, sink, host, start)
        trig = layers.pop("_trigger_ms")
        layers["trigger_wait_ms"] = (statistics.median(
            [(end - m["due"]) * 1000 - trig.get(bid, 0) for m, bid, end in stamps]), "ms")
        late = [(m["published"] - m["due"]) * 1000 for m in m_win]
        layers["generator_late_ms_p50"] = (statistics.median(late), "ms")
        layers["generator_late_ms_max"] = (max(late), "ms")
        # A growing backlog makes the run's latency figures invalid (the
        # rate outran the system, usually because the host was busy), but
        # no output is wrong, so it is reported and not counted as a failure.
        slope = layers["ingest.backlog_slope_files_per_s"][0]
        if slope > 0.1 * PACED_RATE:
            res.notes.append(f"INVALID RUN: backlog grows by {slope:.1f} files/s, "
                             f"rate {PACED_RATE}/s is unsustainable here")

        sentinel = _sentinel(run, watched, man("flush"))
        shipped_all(checks.read_manifest(man("flush")), 30)
        _wait_deleted(manifest)
    finally:
        q.stop()
    res.attempted += len(manifest)
    res.problems += checks.check_ingest(manifest, sink.shipped(sentinel), host)
    res.layers.update(_prefixed("paced", layers))
    return layers


def _one_core(run: Run, res: Result) -> None:
    """The backlog drain on local[1] in a fresh process: the
    single-threaded baseline."""
    base = os.path.join(run.work, "onecore")
    man = lambda s: os.path.join(base, f"{s}.jsonl")  # noqa: E731
    gen(run.seed, "batch", "onecore-warm", os.path.join(base, "warm"), man("warm"),
        16, 300_000, BACKLOG_KB, INCOMPLETE)
    gen(run.seed, "batch", "onecore", os.path.join(base, "main"), man("main"),
        48, 400_000, BACKLOG_KB, INCOMPLETE)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "setup_probe.py"), "--work", run.work,
         "--master", "local[1]", "--drain", base, "--manifest", man("main")],
        check=True, capture_output=True, text=True, timeout=170).stdout
    one = json.loads(out.strip().splitlines()[-1])["mb_per_s"]
    res.layers["backlog.mb_per_s_1core"] = (one, "MB/s")
    res.layers["backlog.speedup_over_1core"] = (res.e2e["throughput_mb_per_s"] / one, "ratio")


def ingest(run: Run) -> Result:
    res = Result()
    with run.tracer.span("bench.backlog_phase"):
        backlog = _backlog_phase(run, res)
    with run.tracer.span("bench.paced_phase"):
        paced = _paced_phase(run, res)
    for name in ("sources.files_in", "sources.bytes_admitted", "sources.gate_rejected_files"):
        res.layers[name] = (backlog[name][0] + paced[name][0], backlog[name][1])
    if run.tracer.enabled:
        _one_core(run, res)
        d = os.path.join(run.work, "probe")
        pm = gen(run.seed, "batch", "probe", d, os.path.join(run.work, "probe.jsonl"),
                 24, 900_000, BACKLOG_KB, INCOMPLETE)
        batch_probes(run, d, pm, res)
    return res


# -------------------------------------------------------------- audit_analytics


def _parse_df(spark, corpus: str):
    return parse_audit_records(complete_only(read_audit_batch(spark, corpus)))


def parse_checksums(df) -> dict:
    """Record count and per-field (non-null count, key sum) of parsed
    rows, keyed by XML leaf, computed the way corpus.field_key does."""
    aggs = [F.count(F.lit(1)).alias("_records")]
    for name, (leaf, dtype) in AUDIT_FIELDS.items():
        c = F.col(name)
        if dtype == "string":
            key = F.crc32(c)
        elif dtype == "timestamp":
            key = F.pmod(F.unix_micros(c), F.lit(MOD))
        else:
            key = F.pmod(c.cast("long"), F.lit(MOD))
        aggs += [F.count(c).alias(f"{leaf}_n"), F.sum(key).alias(f"{leaf}_s")]
    row = df.agg(*aggs).first().asDict()
    return {
        "records": row["_records"],
        "fields": {leaf: [row[f"{leaf}_n"], row[f"{leaf}_s"] or 0]
                   for leaf, _ in AUDIT_FIELDS.values()},
    }


def passes_for(seconds: int) -> int:
    """A fixed pass count per run length (one pass per four requested
    seconds, at least two), so the amount of work measured never
    depends on how fast the engine is."""
    return max(2, -(-seconds // 4))


def audit_analytics(run: Run) -> Result:
    res = Result()
    spark = run.spark
    tables_dir = os.path.join(run.work, "tables")
    corpus = os.path.join(run.work, "audit")
    subprocess.run([sys.executable, os.path.join(HERE, "tablegen.py"),
                    "--seed", str(run.seed), "--out", tables_dir], check=True)
    manifest = gen(run.seed, "batch", "parse", corpus, os.path.join(run.work, "parse.jsonl"),
                   PARSE_FILES, 0, PARSE_KB, INCOMPLETE)
    names = [n for n in HEADLINE if n in registry.QUERIES]
    res.problems += [f"{n}: not registered" for n in HEADLINE if n not in names]

    # Untimed correctness pass, which also compiles every plan and starts
    # the Python workers; then one untimed warm pass.
    expected = checks.expected_parse(manifest)
    res.problems += checks.check_parse(expected, parse_checksums(_parse_df(spark, corpus)))
    for name in names:
        try:
            got = registry.QUERIES[name](spark, tables_dir).toPandas()
            res.problems += checks.check_query(
                name, got, run_oracle(registry.ORACLES[name], tables_dir))
        except Exception as e:  # noqa: BLE001 - a failing query is a failed op
            res.problems.append(f"{name}: {type(e).__name__}: {e}")
    res.attempted += 1 + len(HEADLINE)

    def op(label: str, build) -> float:
        t0 = time.perf_counter()
        with run.tracer.span(label):
            build().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def one_pass(timing: dict) -> float:
        t0 = time.perf_counter()
        with run.tracer.span("bench.pass"):
            timing.setdefault("parse", []).append(
                op("audit_parse.parse_audit_records", lambda: _parse_df(spark, corpus)))
            for name in names:
                fn = registry.QUERIES[name]
                mod = inspect.unwrap(fn).__module__.rsplit(".", 1)[-1]
                try:
                    timing.setdefault(name, []).append(
                        op(f"query.{mod}.{name}", lambda: fn(spark, tables_dir)))
                except Exception as e:  # noqa: BLE001
                    res.problems.append(f"{name}: {type(e).__name__}: {e}")
            res.attempted += 1 + len(names)
        return time.perf_counter() - t0

    traced, run.tracer.enabled = run.tracer.enabled, False
    one_pass({})
    run.tracer.enabled = traced
    timing: dict[str, list[float]] = {}
    with run.rss:
        pass_s = [one_pass(timing) for _ in range(passes_for(run.seconds))]
    mb = sum(m["bytes"] for m in manifest) / 1e6
    parse_s = statistics.median(timing["parse"])
    res.e2e["throughput_mb_per_s"] = mb / parse_s
    # A pass is the client's unit of work. Requests inside it are 13
    # different operations, so a percentile over them lands on whichever
    # query type straddles it; no percentile over passes has 10 samples
    # beyond it, so the tail is the slowest pass.
    res.e2e["latency_p50_ms"] = 1000 * statistics.median(pass_s)
    res.e2e["latency_tail_ms"] = 1000 * max(pass_s)
    res.notes.append(
        f"analytics: latency figures are the median and slowest of n={len(pass_s)} passes "
        f"(analytics_pass_s); parse corpus {len(manifest)} files, {mb:.2f} MB, "
        f"{expected['records']} records, parse_records_per_s {expected['records'] / parse_s:.0f}")

    res.layers["audit_parse.s"] = (parse_s, "s")
    res.layers["audit_parse.records"] = (expected["records"], "count")
    for name in names:
        res.layers[f"query.{name}_s"] = (statistics.median(timing[name]), "s")
    if run.tracer.enabled:
        listed = read_audit_batch(spark, corpus)
        res.layers["sources.gate_rejected_files"] = (
            listed.count() - complete_only(listed).count(), "count")
        batch_probes(run, corpus, manifest, res)
    return res


WORKLOADS = {
    "ingest": ingest,
    "audit_analytics": audit_analytics,
}


def layer_self_times(tracer: Tracer) -> dict:
    return {f"self.{k}_s": (v, "s") for k, v in sorted(self_times(tracer.spans).items())}
