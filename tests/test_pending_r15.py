"""Parity of the three operators registered out of the round-15
pending queue (q_graph_link_prediction, q_sample_neyman_allocation,
q_text_bm25_topk) at the local test SF. Unlike the registry-wide
test_parity sweep, this also requires a non-empty result, so an
operator whose oracle and Spark plan both return nothing on the
fixture cannot pass vacuously."""

from __future__ import annotations

import pytest

from oraaud_kafka_spark import registry
from oraaud_kafka_spark.testing import compare_frames, run_oracle

from .conftest import SF_DIR

registry.load_all()

_R15 = (
    "q_graph_link_prediction",
    "q_sample_neyman_allocation",
    "q_text_bm25_topk",
)


@pytest.mark.parametrize("name", _R15)
def test_pending_r15_matches_oracle(spark, name):
    got = registry.QUERIES[name](spark, SF_DIR).toPandas()
    probs = compare_frames(got, run_oracle(registry.ORACLES[name], SF_DIR))
    assert not probs, f"{name}: {probs}"
    assert len(got) > 0, f"{name}: empty result at {SF_DIR}"
