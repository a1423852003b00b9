"""Correctness checks against the generator's manifest and the DuckDB
oracles. They run outside every timed region; each returns a list of
problems, one string per failed operation, so the count feeds
``failed`` directly.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
from collections import Counter
from pathlib import Path

GZIP_MAGIC = b"\x1f\x8b"


def read_manifest(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def expected_key(host: str, path: str) -> str:
    """The Kafka/Kinesis key the engine builds: host ':' input_file_name()."""
    return f"{host}:{Path(path).as_uri()}"


def payload_value(payload, gzip_threshold: int | None) -> tuple[bytes, str | None]:
    """The shipped value bytes, and a problem if the payload breaks the
    Kinesis rule: gzip exactly when the value exceeds the threshold."""
    if isinstance(payload, str):
        return payload.encode(), None
    raw = bytes(payload)
    if gzip_threshold is None:
        return raw, None
    zipped = raw[:2] == GZIP_MAGIC
    value = gzip.decompress(raw) if zipped else raw
    if zipped != (len(value) > gzip_threshold):
        return value, f"gzip={zipped} for a {len(value)} B value (threshold {gzip_threshold})"
    return value, None


def check_ingest(manifest: list[dict], shipped: list[tuple[str, object]], host: str,
                 gzip_threshold: int | None = None) -> list[str]:
    """Every complete file shipped exactly once with the right key and
    content, no incomplete or unknown file shipped, and every shipped
    file deleted by cleanSource. ``shipped`` holds (key, payload) where
    payload is the Kafka value string or the Kinesis payload bytes."""
    by_key = {expected_key(host, m["path"]): m for m in manifest}
    counts = Counter(k for k, _ in shipped)
    problems = []
    for m in manifest:
        n = counts.get(expected_key(host, m["path"]), 0)
        if m["complete"] and n != 1:
            problems.append(f"{m['name']}: complete file shipped {n} times")
        elif not m["complete"] and n:
            problems.append(f"{m['name']}: incomplete file shipped {n} times")
    seen = set()
    for key, payload in shipped:
        m = by_key.get(key)
        if m is None:
            problems.append(f"unknown key shipped: {key}")
            continue
        if key in seen or not m["complete"]:
            continue
        seen.add(key)
        value, bad_gzip = payload_value(payload, gzip_threshold)
        if bad_gzip:
            problems.append(f"{m['name']}: {bad_gzip}")
        if hashlib.sha256(value).hexdigest() != m["sha256"]:
            problems.append(f"{m['name']}: shipped content differs from the file")
        if os.path.exists(m["path"]):
            problems.append(f"{m['name']}: shipped but not deleted")
    return problems


def expected_parse(manifest: list[dict]) -> dict:
    """Record count and per-field (non-null count, key sum) over the
    complete files: what parsing the shipped corpus must produce."""
    records, fields = 0, {}
    for m in manifest:
        if not m["complete"]:
            continue
        records += m["records"]
        for leaf, (n, s) in m["fields"].items():
            acc = fields.setdefault(leaf, [0, 0])
            acc[0] += n
            acc[1] += s
    return {"records": records, "fields": fields}


def check_parse(expected: dict, got: dict) -> list[str]:
    problems = []
    if got["records"] != expected["records"]:
        problems.append(f"parse: {got['records']} records, expected {expected['records']}")
    for leaf, want in expected["fields"].items():
        have = list(got["fields"].get(leaf, [0, 0]))
        if have != list(want):
            problems.append(f"parse: field {leaf} (count, checksum) {have} != {list(want)}")
    return problems


def check_query(name: str, spark_pdf, oracle_pdf) -> list[str]:
    from oraaud_kafka_spark.testing import compare_frames

    diffs = compare_frames(spark_pdf, oracle_pdf)
    return [f"{name}: " + "; ".join(diffs[:3])] if diffs else []
