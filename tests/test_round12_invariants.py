"""Round-12 registration invariants: the round-12 trio (theta-sketch
audience overlap, dynamic-gap sessionization, conversion-rate rollup)
is registered in queries/aggregates.py and queries/event_time.py —
the sf0.001 parity runs in the registry-wide test_parity sweep, and
the sf0.01 sweep plus the operator-specific certifications live
here."""

from __future__ import annotations

import pytest

from oraaud_kafka_spark import registry
from oraaud_kafka_spark.testing import compare_frames, run_oracle

from .conftest import SF_DIR, SF_DIR_CORRECTNESS

registry.load_all()

_R12_NEW = (
    "q_agg_theta_audience_overlap",
    "q_time_session_dynamic_gap",
    "q_time_conversion_rate",
    "q_dedup_incremental",
)


@pytest.mark.parametrize("name", _R12_NEW)
def test_r12_new_ops_match_oracle_at_correctness_sf(spark, name):
    """The driver-gate sweep at its own SF — committed, not run-by-hand,
    so a divergence that only manifests at sf0.01 (an ordering tie, an
    overflow boundary) cannot hide behind the sf0.001 parity test."""
    got = registry.QUERIES[name](spark, SF_DIR_CORRECTNESS).toPandas()
    probs = compare_frames(
        got, run_oracle(registry.ORACLES[name], SF_DIR_CORRECTNESS)
    )
    assert not probs, f"{name}: {probs}"
    assert len(got) > 0, f"{name}: empty result at {SF_DIR_CORRECTNESS}"


def test_theta_certification_holds(spark):
    """The sketch estimates must sit within the 5% certification band
    of the exact pairwise intersections/unions on the fixture."""
    got = registry.QUERIES["q_agg_theta_audience_overlap"](
        spark, SF_DIR
    ).toPandas()
    assert len(got) > 0
    assert got["within_rel_error"].all()


def test_theta_stays_in_exact_mode(spark):
    """The theta oracle hardcodes within_rel_error TRUE, which is sound
    only while lg_k=12 sketches stay in exact mode (< 2^12 retained
    keys per segment). Pin the per-type distinct-user cardinality under
    that threshold at BOTH test SFs so fixture growth that would start
    estimating fails here, loudly, instead of as an opaque driver hash
    mismatch."""
    from pyspark.sql import functions as F

    from oraaud_kafka_spark.tables import load

    for sf_dir in (SF_DIR, SF_DIR_CORRECTNESS):
        worst = (
            load(spark, sf_dir, "events")
            .filter(F.col("user_id").isNotNull())
            .groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("n"))
            .agg(F.max("n"))
            .collect()[0][0]
        )
        assert worst < 2**12, (
            f"{sf_dir}: {worst} distinct users in one segment — theta "
            "lg_k=12 would leave exact mode; raise lg_k and replace the "
            "oracle's hardcoded certificate"
        )
