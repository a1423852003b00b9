"""Seeded Oracle audit-XML corpus generator.

Runs as its own process, separate from the system under test, and
publishes every file atomically: the bytes go to a hidden temp file in
the watched directory (Spark's file listing skips names starting with
``.``), then one ``os.rename`` makes the finished ``*.xml`` visible.
File names follow ``<inst>_ora_<pid>_<stamp>.xml`` so the engine's
``src_pid`` derivation is exercised.

Each published file gets one JSON line in a manifest the system never
reads: its path, due and publish times, completeness, size, the sha256
of its newline-stripped content (the payload the ingest ships) and
per-field checksums of its audit records (what the parse must recover).

Two modes:

  batch  write ``--files`` files now (backlog drains, parse corpora)
  paced  open loop: file i is due at ``--start + i / --rate``; the
         schedule never waits for the system, and publish - due is the
         generator's own lateness

Usage:
  python3 corpus.py batch --seed 7 --out DIR --manifest M.jsonl --files 48 \
      --min-kb 900 --max-kb 1000 --incomplete 0.1
  python3 corpus.py paced --seed 7 --out DIR --manifest M.jsonl --files 500 \
      --rate 50 --start 1760000000.0 --min-kb 2 --max-kb 64 --incomplete 0.05
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import random
import sys
import time
import zlib

import numpy as np

# field -> kind; the parse maps these leaves to typed columns
# (oraaud_kafka_spark.streaming.audit_parse.AUDIT_FIELDS)
FIELDS = (
    ("Audit_Type", "int"),
    ("Session_Id", "int"),
    ("StatementId", "int"),
    ("EntryId", "int"),
    ("Extended_Timestamp", "ts"),
    ("DB_User", "str"),
    ("OS_User", "str"),
    ("Userhost", "str"),
    ("OS_Process", "str"),
    ("Terminal", "str"),
    ("Instance_Number", "int"),
    ("Object_Schema", "str"),
    ("Object_Name", "str"),
    ("Action", "int"),
    ("Returncode", "int"),
    ("Scn", "int"),
    ("DBID", "int"),
    ("Sql_Text", "str"),
    ("Sql_Bind", "str"),
)

_USERS = ("SYS", "SYSTEM", "SCOTT", "HR", "APP_RW", "APP_RO", "ETL", "AUDITOR")
_SCHEMAS = ("HR", "SALES", "FIN", "APP", "SYS")
_OBJECTS = ("EMPLOYEES", "ORDERS", "LEDGER", "ACCOUNTS", "SESSIONS", "PAYROLL")
_VERBS = (
    "select * from {s}.{o} where id &lt; {n}",
    "update {s}.{o} set flag = 'Y' where id = {n}",
    "delete from {s}.{o} where ts &gt; sysdate - {n}",
    "insert into {s}.{o} values ({n}, 'x &amp; y')",
)
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_HEAD = '<?xml version="1.0" encoding="UTF-8"?>\n<Audit xmlns="http://xmlns.oracle.com/oracleas/schema/dbserver_audittrail-11_2.xsd">\n<Version>11.2</Version>\n'
# No newline after </Audit>: the engine's completeness gate rtrims spaces
# only, so a trailing newline would read as an incomplete file.
_TAIL = "</Audit>"


def _unescape(s: str) -> str:
    return s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")


def _record(rng: random.Random, seq: int) -> tuple[str, dict]:
    """One <AuditRecord> and its field values as the parse must read them
    (None where the element is absent or empty)."""
    s, o = rng.choice(_SCHEMAS), rng.choice(_OBJECTS)
    ts = _EPOCH + dt.timedelta(microseconds=rng.randrange(10**13))
    vals = {
        "Audit_Type": rng.choice((1, 2, 4, 8)),
        "Session_Id": rng.randrange(10**9),
        "StatementId": rng.randrange(1, 500),
        "EntryId": seq,
        "Extended_Timestamp": ts,
        "DB_User": rng.choice(_USERS),
        "OS_User": rng.choice(("oracle", "grid", "app")),
        "Userhost": f"dbhost{rng.randrange(32)}",
        "OS_Process": str(rng.randrange(1000, 65536)),
        "Terminal": rng.choice(("pts/1", "pts/2", "", "unknown")),
        "Instance_Number": rng.randrange(1, 4),
        "Object_Schema": s,
        "Object_Name": o,
        "Action": rng.choice((2, 3, 6, 7, 100, 101)),
        "Returncode": rng.choice((0, 0, 0, 1017, 942)),
        "Scn": rng.randrange(10**10),
        "DBID": rng.randrange(10**9, 2 * 10**9),
        "Sql_Text": rng.choice(_VERBS).format(s=s, o=o, n=rng.randrange(10**6)),
        "Sql_Bind": f" #1(6):{rng.randrange(10**6)}" if rng.random() < 0.5 else None,
    }
    parts = ["<AuditRecord>"]
    for leaf, kind in FIELDS:
        v = vals[leaf]
        if v is None:
            continue
        text = v.strftime("%Y-%m-%dT%H:%M:%S.%fZ") if kind == "ts" else str(v)
        parts.append(f"<{leaf}>{text}</{leaf}>")
    parts.append("</AuditRecord>\n")
    return "".join(parts), vals


MOD = 1_000_000_007


def field_key(kind: str, v) -> int | None:
    """The per-value number summed into a field checksum: value mod
    ``MOD`` for integers, epoch microseconds mod ``MOD`` for timestamps,
    crc32(utf-8) for strings (None for absent or empty). Every key is
    below 2**32, so a sum over millions of records fits in a long; Spark
    computes the same from the typed rows."""
    if v is None:
        return None
    if kind == "int":
        return int(v) % MOD
    if kind == "ts":
        micros = (v - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // dt.timedelta(
            microseconds=1
        )
        return micros % MOD
    text = _unescape(v)
    return zlib.crc32(text.encode()) if text else None


class RecordPool:
    """A seeded pool of distinct records that documents sample from, so
    hundreds of MB generate in well under a second; the per-record key
    matrix turns a document's field checksums into one matrix product."""

    def __init__(self, rng: random.Random, size: int = 4096):
        texts, keys, present = [], [], []
        for i in range(size):
            text, vals = _record(rng, i)
            ks = [field_key(kind, vals[leaf]) for leaf, kind in FIELDS]
            texts.append(text)
            keys.append([k or 0 for k in ks])
            present.append([k is not None for k in ks])
        self.texts = texts
        self.lens = np.array([len(t) for t in texts], dtype=np.int64)
        self.keys = np.array(keys, dtype=np.int64)
        self.present = np.array(present, dtype=np.int64)


def make_document(rng: random.Random, pool: RecordPool, target_bytes: int,
                  complete: bool) -> tuple[str, dict]:
    """An <Audit> document of about ``target_bytes``; an incomplete one is
    cut before ``</Audit>``. Returns (text, checksums) where checksums
    covers the records of a complete document only."""
    room = max(target_bytes - len(_HEAD) - len(_TAIL), 1)
    guess = int(room / pool.lens.mean()) + 8
    idx = np.array(rng.choices(range(len(pool.texts)), k=guess), dtype=np.int64)
    n = int(np.searchsorted(pool.lens[idx].cumsum(), room)) + 1
    idx = idx[: min(n, guess)]
    text = _HEAD + "".join(pool.texts[i] for i in idx) + _TAIL
    if not complete:
        text = text[: rng.randrange(len(_HEAD) + 1, len(text) - len(_TAIL) - 1)]
        return text, {"records": 0, "fields": {}}
    counts = np.bincount(idx, minlength=len(pool.texts))
    fields = {
        leaf: [int(c), int(s)]
        for (leaf, _), c, s in zip(FIELDS, counts @ pool.present, counts @ pool.keys)
    }
    return text, {"records": len(idx), "fields": fields}


def stripped_sha256(text: str) -> str:
    """Digest of the payload the ingest ships: the file, newlines removed."""
    return hashlib.sha256(text.replace("\n", "").encode()).hexdigest()


def file_name(rng: random.Random, seq: int) -> str:
    inst = rng.choice(("orcl", "prod", "dwh"))
    return f"{inst}_ora_{rng.randrange(1000, 65536)}_20240504135015{seq:07d}.xml"


def publish(out_dir: str, name: str, text: str) -> str:
    """Write to a hidden temp file, then rename it into view."""
    path = os.path.join(out_dir, name)
    tmp = os.path.join(out_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, path)
    return path


def plan(seed: int, stream: str, files: int, first_seq: int, min_kb: float,
         max_kb: float, incomplete: float):
    """Yield (name, text, meta) for each file; a pure function of its
    arguments. Sizes step through a fixed geometric ladder from min to
    max in seeded order, so the byte count of a corpus, and with it the
    work a run measures, does not depend on the seed."""
    rng = random.Random(f"{seed}:{stream}")
    pool = RecordPool(rng)
    # incomplete files sit at fixed positions, so every seed splits the
    # shipped files into micro-batches the same way
    stride = round(1 / incomplete) if incomplete else 0
    bad = set(range(stride // 2, files, stride)) if stride else set()
    steps = 8
    rungs = [min_kb * (max_kb / min_kb) ** (i / (steps - 1)) for i in range(steps)]
    sizes = [rungs[i % steps] for i in range(files)]
    rng.shuffle(sizes)
    for i in range(files):
        text, sums = make_document(rng, pool, int(sizes[i] * 1024), i not in bad)
        name = file_name(rng, first_seq + i)
        meta = {
            "name": name,
            "complete": i not in bad,
            "bytes": len(text.encode()),
            "sha256": stripped_sha256(text),
            **sums,
        }
        yield name, text, meta


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("batch", "paced"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--stream", default="corpus", help="name of this file stream")
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--first-seq", type=int, default=0)
    ap.add_argument("--min-kb", type=float, default=900)
    ap.add_argument("--max-kb", type=float, default=1000)
    ap.add_argument("--incomplete", type=float, default=0.1)
    ap.add_argument("--rate", type=float, default=50.0)
    ap.add_argument("--start", type=float, default=0.0)
    a = ap.parse_args(argv)
    os.makedirs(a.out, exist_ok=True)
    paced = a.mode == "paced"
    files = plan(a.seed, a.stream, a.files, a.first_seq, a.min_kb, a.max_kb, a.incomplete)
    start = a.start or time.time()
    with open(a.manifest, "a") as man:
        for i, (name, text, meta) in enumerate(files):
            due = start + i / a.rate if paced else time.time()
            if paced:
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
            path = publish(a.out, name, text)
            meta.update(path=os.path.abspath(path), due=due, published=time.time())
            man.write(json.dumps(meta) + "\n")
            man.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
