"""Self-tests of the benchmark's own machinery (no JVM needed).

Run: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import ast
import gzip
import os
import re
import subprocess
import sys

import pandas as pd
import pytest

import checks
import corpus
from measure import Tracer, percentile, resident_pages, self_times, tail

HERE = os.path.dirname(os.path.abspath(__file__))
PID_PATTERN = r"_([0-9]+)_[^_/]*\.xml$"  # oraaud_kafka_spark.sources.audit_xml


def _plan(seed: int, files: int = 6):
    return list(corpus.plan(seed, "t", files, 0, 2, 8, 0.2))


def test_generator_is_deterministic_per_seed():
    a, b, c = _plan(3), _plan(3), _plan(4)
    assert a == b
    assert [x[1] for x in a] != [x[1] for x in c]


def test_generator_cli_publishes_identical_corpora(tmp_path):
    def run(d):
        subprocess.run([sys.executable, os.path.join(HERE, "corpus.py"), "batch",
                        "--seed", "9", "--out", str(d), "--manifest", str(d / "m.jsonl"),
                        "--files", "5", "--min-kb", "2", "--max-kb", "4",
                        "--incomplete", "0.2"], check=True)
        return {p.name: p.read_text() for p in d.glob("*.xml")}

    first, second = run(tmp_path / "a"), run(tmp_path / "b")
    assert first == second and len(first) == 5
    assert not list((tmp_path / "a").glob(".*"))  # no temp file left behind
    for name in first:
        assert re.search(PID_PATTERN, name), name


def test_generator_controls_shape():
    files = list(corpus.plan(1, "s", 20, 0, 8, 16, 0.1))
    complete = [m for _, _, m in files if m["complete"]]
    assert len(files) - len(complete) == 2
    for _, text, m in files:
        assert text.rstrip().endswith("</Audit>") == m["complete"]
        assert m["bytes"] < 16 * 1024 + 2048
        assert m["bytes"] >= 8 * 1024 or not m["complete"]
    sizes = [m["bytes"] for _, _, m in corpus.plan(1, "p", 16, 0, 2, 64, 0.0)]
    again = [m["bytes"] for _, _, m in corpus.plan(2, "p", 16, 0, 2, 64, 0.0)]
    assert abs(sum(sizes) - sum(again)) < 0.02 * sum(sizes)


def test_manifest_digest_is_of_the_newline_stripped_file():
    name, text, meta = _plan(5, 1)[0]
    assert meta["sha256"] == corpus.stripped_sha256(text)
    assert "\n" in text and meta["records"] == text.count("<AuditRecord>")


def test_percentile_refuses_a_thin_tail():
    values = list(range(100))
    assert percentile(values, 90) == 89
    with pytest.raises(ValueError):
        percentile(values, 99)  # one sample beyond it
    with pytest.raises(ValueError):
        percentile(list(range(50)), 90)
    assert tail(values) == (90.0, 89)
    assert tail(list(range(1000)))[0] == 99.0
    with pytest.raises(ValueError):
        tail(list(range(12)))


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "name": "a.outer", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "b.x", "start": 1.0, "end": 3.0, "parent": 0},
        {"id": 2, "name": "b.y", "start": 2.0, "end": 5.0, "parent": 0},
        {"id": 3, "name": "c.z", "start": 8.0, "end": 12.0, "parent": 0},
    ]
    got = self_times(spans)
    assert got["a"] == pytest.approx(10 - (4 + 2))
    assert got["b"] == pytest.approx(2 + 3)
    assert got["c"] == pytest.approx(4)


def test_resident_pages_counts_a_child_between_fork_and_exec_once():
    tree = {1: None, 2: 1, 3: 1, 4: 3, 5: 3}
    statm = {
        1: "9000 300 20 1 0 800 0\n",   # driver
        2: "9000 300 20 1 0 800 0\n",   # its fork, not yet exec'd
        3: "50000 4000 30 1 0 4500 0\n",  # the JVM
        4: "900 60 20 1 0 80 0\n",      # a worker
        5: "900 70 20 1 0 80 0\n",      # another worker
    }
    assert resident_pages(tree, statm) == 300 + 4000 + 60 + 70
    del statm[2]  # a process gone between listing and reading
    assert resident_pages(tree, statm) == 300 + 4000 + 60 + 70


def test_tracer_records_parents_and_skips_when_disabled():
    t = Tracer("r")
    with t.span("x.off"):
        pass
    assert t.spans == []
    t.enabled = True
    with t.span("x.outer") as outer:
        with t.span("y.inner"):
            pass
    with t.span("z.callback", parent=outer):
        pass
    assert [(s["name"], s["parent"]) for s in t.spans] == [
        ("x.outer", None), ("y.inner", outer), ("z.callback", outer)]
    assert all(s["run_id"] == "r" and s["end"] >= s["start"] for s in t.spans)


@pytest.fixture
def published(tmp_path):
    files = _plan(7, 5)
    manifest = []
    for name, text, meta in files:
        path = corpus.publish(str(tmp_path), name, text)
        manifest.append({**meta, "path": path})
    return manifest, {m["path"]: t.replace("\n", "") for (_, t, _), m in zip(files, manifest)}


def _ship(manifest, values, host="h", zipped=False):
    out = []
    for m in manifest:
        if m["complete"]:
            v = values[m["path"]].encode()
            out.append((checks.expected_key(host, m["path"]),
                        gzip.compress(v) if zipped and len(v) > 512 else v))
    return out


def _delete(manifest):
    for m in manifest:
        if m["complete"]:
            os.remove(m["path"])


def test_checker_accepts_a_correct_delivery(published):
    manifest, values = published
    _delete(manifest)
    assert checks.check_ingest(manifest, _ship(manifest, values, zipped=True), "h", 512) == []


def test_checker_flags_dropped_duplicated_truncated_and_incomplete(published):
    manifest, values = published
    _delete(manifest)
    good = _ship(manifest, values)
    assert len(checks.check_ingest(manifest, good[1:], "h")) == 1  # dropped
    assert len(checks.check_ingest(manifest, good + good[:1], "h")) == 1  # duplicated
    key, value = good[0]
    truncated = [(key, value[:-10])] + good[1:]
    assert any("differs" in p for p in checks.check_ingest(manifest, truncated, "h"))
    bad = next(m for m in manifest if not m["complete"])
    shipped_bad = good + [(checks.expected_key("h", bad["path"]), b"x")]
    assert any("incomplete" in p for p in checks.check_ingest(manifest, shipped_bad, "h"))


def test_checker_flags_undeleted_files_and_gzip_rule(published):
    manifest, values = published
    assert any("not deleted" in p
               for p in checks.check_ingest(manifest, _ship(manifest, values), "h"))
    _delete(manifest)
    raw_big = _ship(manifest, values, zipped=False)  # >512 B values left raw
    assert any("gzip=False" in p for p in checks.check_ingest(manifest, raw_big, "h", 512))


def test_parse_check_flags_a_wrong_count_or_field():
    manifest = [m for _, _, m in _plan(2, 4)]
    want = checks.expected_parse(manifest)
    assert checks.check_parse(want, want) == []
    off = {"records": want["records"], "fields": dict(want["fields"])}
    off["fields"]["DB_User"] = [want["fields"]["DB_User"][0], want["fields"]["DB_User"][1] + 1]
    assert len(checks.check_parse(want, off)) == 1
    assert len(checks.check_parse(want, {**want, "records": want["records"] - 1})) == 1


def test_query_check_flags_a_perturbed_result():
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    assert checks.check_query("q", oracle.copy(), oracle) == []
    perturbed = oracle.copy()
    perturbed.loc[1, "v"] = 1.2500000001
    assert checks.check_query("q", perturbed, oracle)
    assert checks.check_query("q", oracle.iloc[:2], oracle)


def test_roster_matches_bench_headline():
    src = os.path.join(os.path.dirname(HERE), "bench.py")
    if not os.path.exists(src):
        pytest.skip("bench.py not in this tree")
    tree = ast.parse(open(src).read())
    headline = next(ast.literal_eval(n.value) for n in tree.body if isinstance(n, ast.Assign)
                    and getattr(n.targets[0], "id", None) == "HEADLINE")
    roster = ast.parse(open(os.path.join(HERE, "workloads.py")).read())
    ours = next(ast.literal_eval(n.value) for n in roster.body if isinstance(n, ast.Assign)
                and getattr(n.targets[0], "id", None) == "HEADLINE")
    assert list(ours) == headline
