"""Round-13 registration invariants: the round-13 trio (additive
Holt-Winters, SRP range-search S-curve eval, CDC sub-file chunking) is
registered in queries/event_time.py, llm/similarity.py and
llm/multimodal.py — the sf0.001 parity runs in the registry-wide
test_parity sweep, and the sf0.01 sweep plus the operator-specific
certifications live here."""

from __future__ import annotations

import pytest

from oraaud_kafka_spark import registry
from oraaud_kafka_spark.testing import compare_frames, run_oracle

from .conftest import SF_DIR, SF_DIR_CORRECTNESS

registry.load_all()

_R13_NEW = (
    "q_multimodal_cdc_chunks",
    "q_sim_range_search_eval",
    "q_time_holt_winters",
)


@pytest.mark.parametrize("name", _R13_NEW)
def test_r13_new_ops_match_oracle_at_correctness_sf(spark, name):
    """The driver-gate sweep at its own SF — committed, not run-by-hand,
    so a divergence that only manifests at sf0.01 (an ordering tie, an
    overflow boundary) cannot hide behind the sf0.001 parity test."""
    got = registry.QUERIES[name](spark, SF_DIR_CORRECTNESS).toPandas()
    probs = compare_frames(
        got, run_oracle(registry.ORACLES[name], SF_DIR_CORRECTNESS)
    )
    assert not probs, f"{name}: {probs}"
    assert len(got) > 0, f"{name}: empty result at {SF_DIR_CORRECTNESS}"


def test_range_search_scurve_is_monotone(spark):
    """The empirical catch rate must rise with the cosine tier — the
    property that makes the S-curve usable for sizing (B, r)."""
    got = (
        registry.QUERIES["q_sim_range_search_eval"](spark, SF_DIR)
        .toPandas()
        .sort_values("cos_tier")
    )
    rates = got["catch_rate"].tolist()
    assert rates == sorted(rates), f"catch_rate not monotone: {rates}"
    # tier 0 (cosine < 0) is the false-positive floor: strictly below
    # the top tier's recall, or the banding carries no signal at all
    assert rates[0] < rates[-1]


def test_range_search_anchor_count_is_full(spark):
    """The bits string is built from exactly B*r anchor hyperplanes:
    if any of the lowest vec_ids were zero-norm (dropped by the
    directional filter), the tail bands would compare empty substrings
    — catch_rate 1.0 for every pair — silently flattening the S-curve.
    Pin the anchor count at both SFs so that degradation is loud."""
    from pyspark.sql import functions as F

    from oraaud_kafka_spark.llm.similarity import _RS_N_ANCHORS
    from oraaud_kafka_spark.queries import directional
    from oraaud_kafka_spark.tables import load

    for sf_dir in (SF_DIR, SF_DIR_CORRECTNESS):
        n = (
            directional(load(spark, sf_dir, "embeddings"))
            .filter(F.col("vec_id") < _RS_N_ANCHORS)
            .count()
        )
        assert n == _RS_N_ANCHORS, (
            f"{sf_dir}: only {n}/{_RS_N_ANCHORS} anchors are directional"
        )


def test_cdc_chunking_is_shift_robust(spark):
    """The CDC property: prepending one byte re-chunks only the local
    neighborhood, so a shifted copy still shares most chunk hashes
    with the original — the exact failure mode whole-payload and
    fixed-stride dedup cannot survive."""
    from pyspark.sql import functions as F

    from oraaud_kafka_spark.llm.multimodal import _cdc_bounds, _cdc_chunks
    from oraaud_kafka_spark.tables import load

    text = (
        load(spark, SF_DIR, "documents")
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]["text"]
    )
    df = spark.createDataFrame(
        [(0, text), (1, "X" + text)], ["doc_id", "text"]
    )
    got = (
        df.select(
            "doc_id",
            "text",
            F.explode(
                F.array(_cdc_bounds(F.col("text"), F.length("text")))
            ).alias("bounds"),
        )
        .select(
            "doc_id",
            F.explode(_cdc_chunks(F.col("text"), F.col("bounds"))).alias("c"),
        )
        .select("doc_id", F.col("c.h").alias("h"))
        .toPandas()
    )
    a = set(got[got.doc_id == 0]["h"])
    b = set(got[got.doc_id == 1]["h"])
    shared = len(a & b)
    assert shared >= 0.5 * len(a), (
        f"shifted copy shares only {shared}/{len(a)} chunks"
    )


def test_cdc_chunks_partition_the_text(spark):
    """Structural invariant for ANY input: chunk lengths sum to the
    text length, chunks are non-empty, and re-hashing the contiguous
    split at the bounds reproduces every chunk hash — i.e. the bounds
    are a partition of [0, n), short texts (below the window) included."""
    import hashlib

    from pyspark.sql import functions as F

    from oraaud_kafka_spark.llm.multimodal import _cdc_bounds, _cdc_chunks

    texts = [
        "a",
        "ab",
        "x" * 15,  # below the 16-byte window: single chunk
        "x" * 16,
        "the quick brown fox jumps over the lazy dog " * 20,
        "repeat " * 100,
        "".join(chr(97 + (i * 7) % 26) for i in range(1000)),
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    got = (
        df.select(
            "doc_id",
            "text",
            F.explode(
                F.array(_cdc_bounds(F.col("text"), F.length("text")))
            ).alias("bounds"),
        )
        .select(
            "doc_id",
            F.col("bounds"),
            _cdc_chunks(F.col("text"), F.col("bounds")).alias("chunks"),
        )
        .collect()
    )
    assert len(got) == len(texts)
    for row in got:
        text = texts[row.doc_id]
        lens = [c.len for c in row.chunks]
        assert all(ln > 0 for ln in lens), (row.doc_id, lens)
        assert sum(lens) == len(text), (row.doc_id, lens)
        # bounds form a strictly increasing partition frame
        b = row.bounds
        assert b[0] == 0 and b[-1] == len(text)
        assert all(x < y for x, y in zip(b, b[1:]))
        # chunk hashes equal md5 of the contiguous split
        pos = 0
        for c in row.chunks:
            piece = text[pos : pos + c.len]
            assert c.h == hashlib.md5(piece.encode()).hexdigest()
            pos += c.len


def test_holt_winters_season_bounded_state(spark):
    """Every type folds to exactly one row with a finite forecast; the
    seasonal slot index stays inside the 24-slot vector (the O(m) state
    claim)."""
    got = registry.QUERIES["q_time_holt_winters"](spark, SF_DIR).toPandas()
    assert (got["n_hours"] > 0).all()
    assert got["forecast_next"].notna().all()
    assert len(got) == got["event_type"].nunique()
