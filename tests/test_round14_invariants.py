"""Round-14 registration invariants: the round-14 trio (co-purchase
triangle count, CMS heavy-hitter certification, Bloom semi-join prune
eval) is registered in queries/graphs.py, queries/aggregates.py and
queries/joins.py — the sf0.001 parity runs in the registry-wide
test_parity sweep, and the driver-SF sweep plus the operator-specific
certifications live here."""

from __future__ import annotations

import pytest

from oraaud_kafka_spark import registry
from oraaud_kafka_spark.testing import compare_frames, run_oracle

from .conftest import SF_DIR, SF_DIR_CORRECTNESS

registry.load_all()

_R14_NEW = (
    "q_graph_triangle_count",
    "q_agg_cms_heavy_hitters",
    "q_join_bloom_prune_eval",
)


@pytest.mark.parametrize("name", _R14_NEW)
def test_r14_new_ops_match_oracle_at_correctness_sf(spark, name):
    """The driver-gate sweep at its own SF — committed, not run-by-hand,
    so a divergence that only manifests at sf0.01 (an ordering tie, an
    overflow boundary) cannot hide behind the sf0.001 parity test."""
    got = registry.QUERIES[name](spark, SF_DIR_CORRECTNESS).toPandas()
    probs = compare_frames(
        got, run_oracle(registry.ORACLES[name], SF_DIR_CORRECTNESS)
    )
    assert not probs, f"{name}: {probs}"
    assert len(got) > 0, f"{name}: empty result at {SF_DIR_CORRECTNESS}"


def test_triangle_count_structure(spark):
    """Degree-ordered orientation counts every triangle exactly once:
    the top-5 rows carry positive per-node counts bounded by the global
    total (each triangle touches a node once), and transitivity =
    3*tri/wedges stays in (0, 1]."""
    got = registry.QUERIES["q_graph_triangle_count"](
        spark, SF_DIR
    ).toPandas()
    assert (got["n_tri"] > 0).all()
    assert (got["n_tri"] <= got["n_triangles"]).all()
    assert got["n_triangles"].iloc[0] > 0
    t = got["transitivity"].iloc[0]
    assert 0 < t <= 1.0


def test_cms_never_underestimates_and_merges(spark):
    """The two CMS certificates: est >= exact on every probed key (a
    Count-Min cell only ever over-counts), and the cell-wise merge of
    the per-priority sketches equals the directly-built sketch."""
    got = registry.QUERIES["q_agg_cms_heavy_hitters"](
        spark, SF_DIR
    ).toPandas()
    assert (got["overestimate"] >= 0).all()
    assert got["merged_equals_direct"].all()
    assert got["within_eps"].all()


def test_bloom_admits_every_true_match(spark):
    """The Bloom no-false-negative certificate: n_missed == 0 for every
    sizing, the pass set is a superset of the exact matches, and the
    larger filter never has a worse false-positive rate."""
    got = (
        registry.QUERIES["q_join_bloom_prune_eval"](spark, SF_DIR)
        .toPandas()
        .sort_values("m_bits")
    )
    assert (got["n_missed"] == 0).all()
    assert (got["n_pass"] >= got["n_exact"]).all()
    rates = got["fp_rate"].tolist()
    assert rates[-1] <= rates[0]
