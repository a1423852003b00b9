"""Regenerate PLANS.md: the finalized (AQE) physical-plan properties of
every registered query at sf0.01, perfbench's headline queries first —
the evidence trail for the plan shapes tests/test_plans.py pins.
Run: python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]

from oraaud_kafka_spark import registry  # noqa: E402
from oraaud_kafka_spark.plans.inspect import plan_report  # noqa: E402
from oraaud_kafka_spark.session import get_spark  # noqa: E402
from workloads import HEADLINE  # noqa: E402  (perfbench's query roster)

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()
    lines = [
        "# PLANS — headline physical-plan properties (generated)",
        "",
        f"`python scripts/dump_plans.py` over {SF_DIR}; plans are AQE-final",
        "(collected once, then inspected). CI assertions: tests/test_plans.py.",
        "",
        "| query | shuffles | joins | codegen stages | pushed filters | notes |",
        "|---|---|---|---|---|---|",
    ]
    rest = [n for n in registry.all_queries() if n not in HEADLINE]
    for name in [*HEADLINE, *rest]:
        df = registry.QUERIES[name](spark, SF_DIR)
        r = plan_report(df, execute=True)
        joins = ", ".join(sorted(set(r.joins))) or "—"
        pushed = "; ".join(f for f in r.pushed_filters if f)[:80] or "—"
        notes = []
        if r.has_take_ordered:
            notes.append("TakeOrderedAndProject")
        if r.has_partial_agg:
            notes.append("partial agg")
        lines.append(
            f"| {name} | {r.n_shuffles} | {joins} | {r.codegen_stages} "
            f"| {pushed} | {', '.join(notes) or '—'} |"
        )
    out = os.path.join(REPO, "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
