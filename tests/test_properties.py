"""Property-based tests (SURVEY.md §5.2 item 3): custom operators vs
independent pure-Python references on randomized inputs. Sizes are kept
small (Spark job per example is expensive) but shapes are adversarial:
duplicate timestamps, isolated nodes, self-contained cliques, empty
sides."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

_slow = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_EPOCH = datetime(2024, 1, 1)


@st.composite
def _asof_case(draw):
    n_keys = draw(st.integers(1, 3))
    builds = draw(
        st.lists(
            st.tuples(
                st.integers(0, n_keys - 1),
                st.integers(0, 50),  # minutes
                st.integers(0, 100),  # value
            ),
            max_size=12,
        )
    )
    probes = draw(
        st.lists(
            st.tuples(st.integers(0, n_keys - 1), st.integers(0, 50)),
            min_size=1,
            max_size=12,
        )
    )
    return builds, probes


@given(_asof_case())
@_slow
def test_asof_join_matches_naive(spark, case):
    from oraaud_kafka_spark.operators.asof import asof_join

    builds, probes = case
    # collapse build ties like the operator contract requires: one row
    # per (key, ts) keeping max value
    build_map: dict[tuple[int, int], int] = {}
    for k, t, v in builds:
        build_map[(k, t)] = max(v, build_map.get((k, t), -1))

    def naive(k, t):
        cands = [(bt, v) for (bk, bt), v in build_map.items() if bk == k and bt <= t]
        return max(cands)[1] if cands else None

    build_df = spark.createDataFrame(
        [(k, _EPOCH + timedelta(minutes=t), float(v)) for (k, t), v in build_map.items()]
        or [(0, _EPOCH, 0.0)],
        "k long, bts timestamp, val double",
    )
    if not build_map:
        build_df = build_df.filter(F.lit(False))
    probe_df = spark.createDataFrame(
        [(i, k, _EPOCH + timedelta(minutes=t)) for i, (k, t) in enumerate(probes)],
        "pid long, k long, pts timestamp",
    )
    out = asof_join(
        probe_df, build_df, on=["k"], probe_ts="pts", build_ts="bts", value_cols=["val"]
    )
    got = {r.pid: r.val for r in out.collect()}
    want = {
        i: (None if naive(k, t) is None else float(naive(k, t)))
        for i, (k, t) in enumerate(probes)
    }
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        max_size=20,
    ),
    st.integers(5, 15),
)
@_slow
def test_connected_components_matches_union_find(spark, raw_edges, n_nodes):
    from oraaud_kafka_spark.operators.components import connected_components

    edges = [(a, b) for a, b in raw_edges if a != b and a < n_nodes and b < n_nodes]

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for n in range(n_nodes):
        root = find(n)
        # canonical label = min node in component
        want.setdefault(root, []).append(n)
    expect = {n: min(group) for root, group in want.items() for n in group}

    nodes_df = spark.createDataFrame([(n,) for n in range(n_nodes)], "doc_id long")
    edges_df = spark.createDataFrame(
        edges or [(0, 0)], "doc_a long, doc_b long"
    )
    if not edges:
        edges_df = edges_df.filter(F.lit(False))
    out = connected_components(nodes_df, edges_df)
    got = {r.doc_id: r.component for r in out.collect()}
    assert got == expect


# ---------------------------------------------------------------------------
# MinHash signature path: the array-expression signature
# (array_min over transform) must equal the explode+groupBy reference
# formulation on arbitrary documents. Regression for a silent
# wrong-results hazard: F.transform() treats a two-parameter lambda as
# (element, INDEX), so careless closure binding replaces the permutation
# constant with the array position.
# ---------------------------------------------------------------------------


@_slow
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=5, max_size=40), min_size=1, max_size=6
    )
)
def test_minhash_signature_matches_explode_reference(spark, texts):
    from oraaud_kafka_spark.llm.dedup import N_HASHES, _MH_P, _mh_a, _mh_b

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    tokenized = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 3
    )
    shingles = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 2),
        lambda i: F.array_join(F.slice(F.col("toks"), i, 3), " "),
    )

    # array-expression path (production shape)
    base_hashes = F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")
    )

    def perm(i):
        return lambda h: (F.lit(_mh_a(i)) * h + _mh_b(i)) % _MH_P

    arr = tokenized.select(
        "doc_id",
        *[
            F.array_min(F.transform(base_hashes, perm(i))).alias(f"h{i}")
            for i in range(N_HASHES)
        ],
    )

    # explode + groupBy reference
    exploded = tokenized.select("doc_id", F.explode(shingles).alias("shingle"))
    bh = F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10).cast("long")
    ref = (
        exploded.select("doc_id", bh.alias("bh"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min((F.lit(_mh_a(i)) * F.col("bh") + _mh_b(i)) % _MH_P).alias(f"h{i}")
                for i in range(N_HASHES)
            ]
        )
    )

    assert sorted(arr.collect()) == sorted(ref.collect())


def test_split_assignment_deterministic_and_exhaustive(spark):
    """q_split_train_val_test contract: every document lands in exactly one
    split, assignment is a pure function of doc_id (stable under
    repartitioning and re-evaluation), and the audit counts reconcile with
    the raw table."""
    from oraaud_kafka_spark import registry
    from oraaud_kafka_spark.tables import load

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    audit = registry.QUERIES["q_split_train_val_test"](spark, sf).collect()
    d = load(spark, sf, "documents")
    total = d.count()
    assert sum(r.n_docs for r in audit) == total
    assert {r.split for r in audit} <= {"train", "val", "test"}

    # per-doc assignment is identical when computed over a shuffled layout
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 100
    )
    base = d.select("doc_id", bucket.alias("b"))
    shuffled = d.repartition(7).select("doc_id", bucket.alias("b"))
    diffs = (
        base.withColumnRenamed("b", "b1")
        .join(shuffled.withColumnRenamed("b", "b2"), "doc_id")
        .filter(F.col("b1") != F.col("b2"))
        .count()
    )
    assert diffs == 0


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """Reliable-checkpoint path: same answers, and RDD checkpoint files
    actually land in the configured dir (fault-tolerant storage, so an
    executor loss recomputes instead of aborting the clustering job)."""
    import os

    from oraaud_kafka_spark.operators.components import connected_components

    nodes = spark.createDataFrame([(n,) for n in range(6)], "doc_id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "doc_a long, doc_b long"
    )
    ckdir = str(tmp_path / "reliable_ck")
    out = connected_components(nodes, edges, checkpoint_dir=ckdir)
    got = {r.doc_id: r.component for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}
    walked = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert walked, "no checkpoint files written to the reliable dir"


def test_ivf_kmeans_recall_vs_brute_force(spark):
    """Trained-IVF quality gate: the query itself now computes recall@5
    against the in-plan exact brute-force top-5 and returns a one-row
    eval summary (the driver-hashable surface for a result that depends
    on Lloyd-trained centroids). Assert every invariant in that row."""
    from oraaud_kafka_spark.llm.similarity import (
        N_QUERIES,
        TOP_K,
        q_sim_ivf_kmeans_topk,
    )
    from tests.conftest import SF_DIR

    [row] = q_sim_ivf_kmeans_topk(spark, SF_DIR).collect()
    assert row.n_queries == N_QUERIES
    assert row.total_rows == N_QUERIES * TOP_K
    assert row.per_query_complete
    assert row.cosine_in_bounds
    assert row.recall_ok


def test_kmeans_deterministic_and_balanced(spark):
    """Two training runs produce identical centroids (fixed init, fixed
    iterations, sequential folds), and no centroid list holds the whole
    corpus (the quantizer actually partitions the space)."""
    from oraaud_kafka_spark.llm.similarity import N_CENTROIDS
    from oraaud_kafka_spark.operators.kmeans import nearest_centroid, train_kmeans
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    c1 = train_kmeans(e, k=N_CENTROIDS, max_iter=3)
    c2 = train_kmeans(e, k=N_CENTROIDS, max_iter=3)
    assert c1 == c2
    sizes = (
        e.select(nearest_centroid(F.col("embedding"), c1))
        .groupBy("cid")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in sizes)
    assert max(r["count"] for r in sizes) < total


def test_triangle_self_join_exact_pair_cover(spark):
    """Triangle decomposition must produce every within-block pair
    EXACTLY once (no loss across sub-buckets, no diagonal duplicates),
    even when one block holds almost all rows."""
    from itertools import combinations

    from oraaud_kafka_spark.operators.triangle import triangle_self_join

    # one pathological block of 40 rows plus a small second block
    rows = [(i, "big") for i in range(40)] + [(100 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, blk string")
    got = sorted(
        (r.doc_id_a, r.doc_id_b)
        for r in triangle_self_join(
            df, block_cols=["blk"], id_col="doc_id", n_sub=4
        ).collect()
    )
    want = sorted(
        (a, b)
        for ids in (list(range(40)), [100, 101, 102])
        for a, b in combinations(ids, 2)
    )
    assert got == want


def test_triangle_self_join_bounds_cell_width(spark):
    """No grid cell may carry more than ~(2w/n)^2/2 of a block's pairs:
    the whole point is that a single task never sees the full w^2."""
    from oraaud_kafka_spark.operators.triangle import triangle_self_join

    n_sub, w = 4, 200
    df = spark.createDataFrame([(i, "hot") for i in range(w)], "doc_id long, blk string")
    pairs = triangle_self_join(df, block_cols=["blk"], id_col="doc_id", n_sub=n_sub)
    # re-derive each surviving pair's canonical cell and count per cell
    sub_a = F.pmod(F.xxhash64("doc_id_a"), F.lit(n_sub))
    sub_b = F.pmod(F.xxhash64("doc_id_b"), F.lit(n_sub))
    per_cell = (
        pairs.groupBy(
            F.least(sub_a, sub_b).alias("ci"), F.greatest(sub_a, sub_b).alias("cj")
        )
        .count()
        .collect()
    )
    total = sum(r["count"] for r in per_cell)
    assert total == w * (w - 1) // 2
    assert len(per_cell) == n_sub * (n_sub + 1) // 2
    # xxhash64 spreads ~uniformly: worst cell well under half the block
    assert max(r["count"] for r in per_cell) < total / 2


def test_greedy_packing_budget_invariant(spark):
    """Every pack respects the token budget (unless a single oversized
    doc), packs are contiguous per language, and the distributed packer
    agrees exactly with a driver-side reference implementation."""
    from oraaud_kafka_spark.llm.packing import BUDGET, q_pack_greedy
    from tests.conftest import SF_DIR

    rows = q_pack_greedy(spark, SF_DIR).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)

    for lang, docs in by_lang.items():
        assert docs == sorted(docs, key=lambda r: r.doc_id)
        # reference greedy pass over the same sorted docs
        ref_pack, cur = 0, 0
        for r in docs:
            if cur and cur + r.n_toks > BUDGET:
                ref_pack += 1
                cur = 0
            cur += r.n_toks
            assert r.pack_id == ref_pack, (lang, r.doc_id)
        # budget invariant: a multi-doc pack never exceeds BUDGET
        packs: dict[int, list] = {}
        for r in docs:
            packs.setdefault(r.pack_id, []).append(r.n_toks)
        for toks in packs.values():
            assert sum(toks) <= BUDGET or len(toks) == 1


def test_strided_windows_cover_all_tokens(spark):
    """Every token of every doc appears in at least one window; window
    starts advance by exactly the stride; last window reaches the end."""
    from oraaud_kafka_spark.llm.packing import _WIN_S, _WIN_W
    from oraaud_kafka_spark import registry

    from .conftest import SF_DIR

    rows = (
        registry.QUERIES["q_pack_strided"](spark, SF_DIR)
        .select("doc_id", "n_toks", "win_id", "start_tok", "win_len")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for doc_id, wins in by_doc.items():
        wins.sort(key=lambda r: r.win_id)
        n = wins[0].n_toks
        # starts advance by stride from 0
        assert [w.start_tok for w in wins] == [i * _WIN_S for i in range(len(wins))]
        # full coverage: union of [start, start+len) == [0, n)
        covered = set()
        for w in wins:
            assert 1 <= w.win_len <= _WIN_W
            covered.update(range(w.start_tok, w.start_tok + w.win_len))
        assert covered == set(range(n))
        # consecutive windows overlap by W - S when both are full
        for a, b in zip(wins, wins[1:]):
            if a.win_len == _WIN_W:
                assert b.start_tok < a.start_tok + a.win_len


def test_span_dedup_cleaned_text_is_subsequence(spark):
    """Cleaned text is the original with whole spans dropped: token
    counts bounded, and kept spans appear in original order."""
    from oraaud_kafka_spark import registry

    from .conftest import SF_DIR

    registry.load_all()
    out = {
        r.doc_id: r
        for r in registry.QUERIES["q_dedup_span_c4"](spark, SF_DIR).collect()
    }
    src = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    assert set(out) == set(src)
    changed = 0
    for doc_id, r in out.items():
        assert 0 <= r.n_dup_spans <= r.n_spans
        if r.n_dup_spans:
            changed += 1
        orig = src[doc_id].split(" ")
        kept = r.cleaned_text.split(" ") if r.cleaned_text else []
        # kept tokens are a subsequence of the original tokens
        it = iter(orig)
        assert all(tok in it for tok in kept), doc_id
    assert changed > 0  # fixture corpus contains cross-doc duplicate spans


def test_quantize_int8_codes_bounded(spark):
    from oraaud_kafka_spark import registry

    from .conftest import SF_DIR

    registry.load_all()
    rows = registry.QUERIES["q_emb_quantize_int8"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        codes = [int(c) for c in r.q_codes.split(",")]
        assert all(-127 <= q <= 127 for q in codes)
        assert r.scale > 0
        assert 0 <= r.mse < (r.scale * r.scale) / 4 + 1e-12  # max err = scale/2


def test_funnel_counts_monotone_decreasing(spark):
    from oraaud_kafka_spark import registry

    from .conftest import SF_DIR

    registry.load_all()
    row = registry.QUERIES["q_events_funnel"](spark, SF_DIR).collect()[0]
    assert row.n_signup >= row.n_view >= row.n_click >= row.n_purchase >= 0
    assert row.n_signup > 0


# ---------------------------------------------------------------------------
# Round-5 operators vs pure-Python references
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.lists(
            st.sampled_from(["the", "of", "data", "xx", "q1", "zzz", "be"]),
            min_size=1,
            max_size=60,
        ),
        min_size=1,
        max_size=6,
    )
)
@_slow
def test_gopher_flags_match_python_reference(spark, docs):
    from oraaud_kafka_spark.llm.text import _GOPHER_STOPS, gopher_quality_flags

    d = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_quality_flags(d).collect()}
    for i, toks in enumerate(docs):
        n = len(toks)
        chars = sum(len(t) for t in toks)
        alpha = sum(1 for t in toks if any(c.isalpha() for c in t))
        stops = sum(1 for t in toks if t in _GOPHER_STOPS)
        r = got[i]
        assert r.n_words == n
        assert r.n_stop_hits == stops
        assert r.r_word_count == int(50 <= n <= 100000)
        assert r.r_mean_len == int(3 * n <= chars <= 10 * n)
        assert r.r_alpha == int(alpha * 5 >= n * 4)
        assert r.r_stop == int(stops >= 2)
        assert r.gopher_pass == int(
            r.r_word_count and r.r_mean_len and r.r_alpha and r.r_stop
        )


@given(
    st.lists(
        st.lists(st.integers(-3, 3), min_size=4, max_size=4),
        min_size=3,
        max_size=14,
    ).filter(lambda vs: all(any(x != 0 for x in v) for v in vs))
)
@_slow
def test_semantic_dedup_matches_python_reference(spark, vecs):
    """Drop rule: vector i is dropped iff some lower-id member of its
    cluster has cosine >= threshold. Clusters = nearest of the first 2
    vectors (ties -> lower cid), mirroring the fixed-anchor quantizer."""
    import math

    from oraaud_kafka_spark.llm.dedup import semantic_dedup

    threshold = 0.35
    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs[:2])],
        "cid long, cv array<float>",
    )
    got = {r.vec_id: r for r in semantic_dedup(e, cents, threshold).collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    assign = {}
    for i, v in enumerate(vecs):
        best = max(range(2), key=lambda c: (cos(v, vecs[c]), -c))
        assign[i] = best
    for i, v in enumerate(vecs):
        expect_drop = any(
            assign[j] == assign[i] and cos(vecs[j], v) >= threshold
            for j in range(i)
        )
        assert got[i].cid == assign[i], f"vec {i} cluster"
        assert got[i].dropped == expect_drop, f"vec {i} drop flag"


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["t", "r1", "r2"]),
            st.lists(
                st.sampled_from(["a", "bb", "ccc", "dd", "e", "ff"]),
                min_size=1,
                max_size=12,
            ),
        ),
        min_size=2,
        max_size=8,
    ).filter(lambda rows: any(s == "t" for s, _ in rows) and any(s != "t" for s, _ in rows))
)
@_slow
def test_dsir_scores_match_python_reference(spark, rows):
    import hashlib

    from oraaud_kafka_spark.llm.corpus import importance_scores

    n_buckets = 8
    d = spark.createDataFrame(
        [(i, src, " ".join(toks)) for i, (src, toks) in enumerate(rows)],
        "doc_id long, source string, text string",
    )
    got = {
        r.doc_id: r.affinity_score
        for r in importance_scores(d, "t", n_buckets).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:6], 16) % n_buckets

    cnt_t = [0] * n_buckets
    cnt_r = [0] * n_buckets
    for src, toks in rows:
        for tok in toks:
            (cnt_t if src == "t" else cnt_r)[bucket(tok)] += 1
    n_t, n_r = sum(cnt_t), sum(cnt_r)
    for i, (src, toks) in enumerate(rows):
        if src == "t":
            assert i not in got
            continue
        score = sum(cnt_t[bucket(tok)] * n_r - cnt_r[bucket(tok)] * n_t for tok in toks)
        assert got[i] == score, f"doc {i}"


def test_containment_matches_python_reference(spark):
    """Recompute the full containment pipeline (shingles, md5 min-hash
    blocking, threshold) in pure Python from the parquet fixture and
    compare the pair set and scores exactly."""
    import hashlib

    import pyarrow.parquet as pq

    from .conftest import SF_DIR

    from oraaud_kafka_spark import registry

    registry.load_all()
    t = pq.read_table(f"{SF_DIR}/documents.parquet").to_pylist()
    docs = {}
    for row in t:
        toks = row["text"].split(" ")
        if len(toks) < 3:
            continue
        shs = list(dict.fromkeys(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        ))
        mh1 = min(hashlib.md5(s.encode()).hexdigest() for s in shs)
        docs[row["doc_id"]] = (row["lang"], set(shs), len(shs), mh1)
    expected = {}
    ids = sorted(docs)
    by_block: dict[tuple, list] = {}
    for i in ids:
        lang, shs, n, mh1 = docs[i]
        by_block.setdefault((lang, mh1), []).append(i)
    for block, members in by_block.items():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                inter = len(docs[a][1] & docs[b][1])
                m = min(docs[a][2], docs[b][2])
                if inter * 2 >= m:
                    expected[(a, b)] = (inter, inter / m)
    got = registry.QUERIES["q_dedup_containment"](spark, SF_DIR).collect()
    assert {(r.doc_a, r.doc_b) for r in got} == set(expected)
    for r in got:
        inter, cont = expected[(r.doc_a, r.doc_b)]
        assert r.n_inter == inter
        assert abs(r.containment - cont) < 1e-12


def test_bpe_apply_merge_matches_python_reference(spark):
    """Pure-Python left-to-right merge of the corpus-top (a != b) pair
    must reproduce every rewritten document byte-for-byte."""
    from collections import Counter

    import pyarrow.parquet as pq

    from .conftest import SF_DIR

    from oraaud_kafka_spark import registry

    registry.load_all()
    t = pq.read_table(f"{SF_DIR}/documents.parquet").to_pylist()
    pair_counts: Counter = Counter()
    for row in t:
        toks = row["text"].split(" ")
        for x, y in zip(toks, toks[1:]):
            if x != y:
                pair_counts[(x, y)] += 1
    (a, b), _ = min(
        pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
    )
    expected = {}
    for row in t:
        toks = row["text"].split(" ")
        out = []
        i = 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(f"{a}+{b}")
                i += 2
            else:
                out.append(toks[i])
                i += 1
        expected[row["doc_id"]] = (len(toks), out)
    got = registry.QUERIES["q_text_bpe_apply_merge"](spark, SF_DIR).collect()
    assert len(got) == len(expected)
    for r in got:
        n_before, out = expected[r.doc_id]
        assert r.n_toks_before == n_before
        assert r.n_toks_after == len(out)
        assert r.merged_text == " ".join(out)


@given(
    st.lists(
        st.one_of(st.none(), st.integers(-5, 60)),
        min_size=1,
        max_size=25,
    )
)
@_slow
def test_quality_predicate_counts_match_python(spark, vals):
    """predicate_violations vs pure Python on randomized int/None data:
    NULL counts as a violation, range bounds inclusive."""
    from oraaud_kafka_spark.operators.quality import predicate_violations

    df = spark.createDataFrame([(v,) for v in vals], "q int")
    out = {
        r.constraint_name: r.n_violations
        for r in predicate_violations(
            df,
            {
                "range": (F.col("q") >= 1) & (F.col("q") <= 50),
                "not_null": F.col("q").isNotNull(),
            },
        ).collect()
    }
    exp_range = sum(1 for v in vals if v is None or not (1 <= v <= 50))
    exp_nn = sum(1 for v in vals if v is None)
    assert out == {"range": exp_range, "not_null": exp_nn}


@given(
    st.lists(st.integers(0, 4), min_size=0, max_size=15),
    st.lists(st.integers(0, 4), min_size=0, max_size=15),
)
@_slow
def test_quality_referential_counts_match_python(spark, children, parents):
    """referential_violations vs pure Python: orphans are non-null child
    keys absent from the parent key set."""
    from oraaud_kafka_spark.operators.quality import referential_violations

    child = spark.createDataFrame(
        [(c,) for c in children] or [(None,)], "fk int"
    )
    parent = spark.createDataFrame(
        [(p,) for p in parents] or [(None,)], "pk int"
    )
    got = referential_violations(child, parent, ("fk", "pk")).collect()[0]
    pset = set(parents)
    expected = sum(1 for c in children if c is not None and c not in pset)
    assert got.n_violations == expected


def test_containment_eval_matches_python_reference(spark):
    """Recompute the calibration harness in pure Python: exhaustive
    within-language containment ground truth on the sliced corpus,
    caught = shared 1-perm min-hash shingle — per-language true/caught/
    recall must match exactly."""
    import hashlib

    import pyarrow.parquet as pq

    from .conftest import SF_DIR

    from oraaud_kafka_spark import registry
    from oraaud_kafka_spark.tables import CAL_SLICE_K

    registry.load_all()
    t = pq.read_table(f"{SF_DIR}/documents.parquet").to_pylist()
    # replicate tables.cal_slice: the K doc_ids ranked lowest by
    # md5('cal:' || doc_id)
    sliced_ids = set(
        sorted(
            (r["doc_id"] for r in t),
            key=lambda i: (
                hashlib.md5(f"cal:{i}".encode()).hexdigest(),
                i,
            ),
        )[:CAL_SLICE_K]
    )
    docs = {}
    for row in t:
        if row["doc_id"] not in sliced_ids:
            continue
        toks = row["text"].split(" ")
        if len(toks) < 3:
            continue
        shs = list(dict.fromkeys(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        ))
        mh1 = min(hashlib.md5(s.encode()).hexdigest() for s in shs)
        docs[row["doc_id"]] = (row["lang"], set(shs), len(shs), mh1)
    by_lang: dict[str, list] = {}
    for i in sorted(docs):
        by_lang.setdefault(docs[i][0], []).append(i)
    expected = {}
    for lang, members in by_lang.items():
        n_true = n_caught = 0
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                inter = len(docs[a][1] & docs[b][1])
                if inter * 2 >= min(docs[a][2], docs[b][2]):
                    n_true += 1
                    n_caught += docs[a][3] == docs[b][3]
        expected[lang] = (
            len(members),
            n_true,
            n_caught,
            n_caught / n_true if n_true else None,
        )
    got = registry.QUERIES["q_dedup_containment_eval"](spark, SF_DIR).collect()
    assert {r.lang for r in got} == set(expected)
    for r in got:
        n_docs, n_true, n_caught, recall = expected[r.lang]
        assert (r.n_docs, r.n_true_pairs, r.n_caught) == (
            n_docs, n_true, n_caught,
        )
        if recall is None:
            assert r.recall is None
        else:
            assert r.recall == recall  # int/int division, bitwise


_eval_counter = [0]


def _write_tbl(spark, tmp_path_factory, name, df):
    _eval_counter[0] += 1
    base = tmp_path_factory.mktemp(f"prop{_eval_counter[0]}")
    df.coalesce(1).write.parquet(str(base / f"{name}.parquet"))
    return str(base)


@given(
    st.lists(
        st.tuples(st.integers(1, 30), st.booleans()),  # (cents, is_pos)
        min_size=4,
        max_size=25,
    ).filter(lambda v: any(p for _, p in v) and any(not p for _, p in v))
)
@_slow
def test_auc_matches_pair_counting_property(spark, tmp_path_factory, rows):
    """Rank-sum AUC == P(pos > neg) + 0.5 P(tie) counted over all
    pos x neg pairs, on adversarially tied random score sets."""
    from oraaud_kafka_spark import registry
    from oraaud_kafka_spark.queries.aggregates import _AUC_POS

    registry.load_all()
    data = [
        (
            i,
            i,
            "O",
            cents / 100.0,
            datetime(2024, 1, 1),
            _AUC_POS[0] if pos else "5-LOW",
        )
        for i, (cents, pos) in enumerate(rows)
    ]
    orders = spark.createDataFrame(
        data,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = _write_tbl(spark, tmp_path_factory, "orders", orders)
    r = registry.QUERIES["q_eval_auc_roc"].__wrapped__(spark, d).collect()[0]
    pos = [c for c, p in rows if p]
    neg = [c for c, p in rows if not p]
    wins = sum(
        1.0 if a > b else 0.5 if a == b else 0.0 for a in pos for b in neg
    )
    auc = wins / (len(pos) * len(neg))
    assert (r.n_pos, r.n_neg) == (len(pos), len(neg))
    assert abs(r.auc - round(auc, 6)) < 1e-9
    assert abs(r.gini_rank - round(2 * auc - 1, 6)) < 1e-9


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),        # nationkey
            st.sampled_from("AB"),    # segment
            st.integers(-2, 8),       # band (acctbal = band*1000 + 500)
        ),
        min_size=1,
        max_size=30,
    )
)
@_slow
def test_t_closeness_matches_python_reference(spark, tmp_path_factory, rows):
    """Per-class TVD vs the corpus band distribution == the direct
    0.5 * sum(|p_class - p_corpus|) over ALL bands, computed with exact
    fractions in Python."""
    from fractions import Fraction

    from oraaud_kafka_spark import registry

    registry.load_all()
    data = [
        (i, f"c{i}", nk, band * 1000.0 + 500.0, seg)
        for i, (nk, seg, band) in enumerate(rows)
    ]
    cust = spark.createDataFrame(
        data,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    d = _write_tbl(spark, tmp_path_factory, "customer", cust)
    out = registry.QUERIES["q_privacy_t_closeness"].__wrapped__(
        spark, d
    ).collect()
    n_total = len(rows)
    from collections import Counter

    global_bands = Counter(b for _, _, b in rows)
    by_class: dict = {}
    for nk, seg, b in rows:
        by_class.setdefault((nk, seg), []).append(b)
    assert len(out) == len(by_class)
    for r in out:
        members = by_class[(r.c_nationkey, r.c_mktsegment)]
        assert r.n == len(members)
        cls_bands = Counter(members)
        tvd = Fraction(1, 2) * sum(
            abs(
                Fraction(cls_bands.get(b, 0), len(members))
                - Fraction(g, n_total)
            )
            for b, g in global_bands.items()
        )
        assert abs(r.tvd - round(float(tvd), 6)) < 2e-6


@given(
    st.lists(st.integers(min_value=-10**6, max_value=10**6), min_size=1,
             max_size=200)
)
@settings(max_examples=200, deadline=None)
def test_winsorized_decomposition_identity(cents):
    """The engine computes winsorized_sum as (trimmed middle sum over
    the frequency-collapsed domain) + k*(lo + hi) with lo/hi picked by
    cumulative-count predicates. Property: that decomposition equals
    the literal clamp-and-sum over the sorted rows, for ANY integer
    multiset (ties, negatives, n < 10 all included)."""
    from collections import Counter

    vals = sorted(cents)
    n = len(vals)
    k = n // 10
    lo, hi = vals[k], vals[n - k - 1]
    literal = sum(min(max(v, lo), hi) for v in vals)

    # the engine's formulation: per distinct value v with freq f and
    # exclusive cumulative c, middle take = clamp(c+f, k, n-k) window;
    # lo = min v with c+f > k, hi = min v with c+f >= n-k
    freq = Counter(cents)
    c = 0
    mid_sum = 0
    lo_pick = hi_pick = None
    for v in sorted(freq):
        f = freq[v]
        take = max(0, min(c + f, n - k) - max(c, k))
        mid_sum += v * take
        if lo_pick is None and c + f > k:
            lo_pick = v
        if hi_pick is None and c + f >= n - k:
            hi_pick = v
        c += f
    assert (lo_pick, hi_pick) == (lo, hi)
    assert mid_sum + k * (lo_pick + hi_pick) == literal


@given(
    st.lists(st.integers(min_value=-10**6, max_value=10**6), min_size=1,
             max_size=200)
)
@settings(max_examples=200, deadline=None)
def test_drawdown_running_fold_equals_pair_max(series):
    """max over pairs i <= j of (v_i - v_j) — the O(n²) drawdown
    definition — must equal the O(n) running-max fold the window
    operator executes."""
    peak, dd = None, 0
    for v in series:
        peak = v if peak is None else max(peak, v)
        dd = max(dd, peak - v)
    brute = max(
        (series[i] - series[j] for i in range(len(series))
         for j in range(i, len(series))),
        default=0,
    )
    assert dd == max(0, brute)  # fold clamps at 0 (no peak yet = no dd)
