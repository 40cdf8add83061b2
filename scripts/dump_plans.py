#!/usr/bin/env python
"""Regenerate PLANS.md from live `.explain("formatted")` output."""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _audited():
    """(name, callable, note) — production implementations, referenced
    directly (the gate registry wraps several of these into suites)."""
    from pdf_extractor_spark.plans import catalog, catalog_ext, catalog_ext2, llm_extras, suites

    _pipeline_extract = catalog_ext2.q_pipeline_extract

    return [
        (
            "tpch_q1_pricing_summary",
            catalog.q_tpch_q1_pricing_summary,
            "partial aggregation: HashAggregate appears twice (map-side "
            "partial, then final after the one shuffle on the group keys); "
            "scan reads only the 6 needed columns with the shipdate filter "
            "pushed down.",
        ),
        (
            "tpch_q3_shipping",
            catalog.q_tpch_q3_shipping,
            "both dimension sides broadcast (no SortMergeJoin anywhere); the "
            "fact table is scanned once with 3-column pruning; top-10 is a "
            "TakeOrderedAndProject, not a global sort.",
        ),
        (
            "p4_amount_threshold",
            catalog.q_p4_amount_threshold,
            "predicate reaches the parquet scan as PushedFilters; ReadSchema "
            "carries exactly the 2 projected columns.",
        ),
        (
            "dedup_minhash_lsh",
            catalog_ext.q_dedup_minhash_lsh,
            "signatures are computed in the scan stage projection (no "
            "shuffle); the only exchanges hash tiny (band_id, key, id) rows; "
            "the Jaccard verify joins token arrays back on ids.",
        ),
        (
            "w2_w3_w4_w6_window_suite",
            suites.q_window_suite,
            "four window operators (forward-fill, block id, lead, "
            "sessionize) share ONE window spec: exactly one Exchange "
            "hashpartitioning(user_id) feeds the whole Window stack — the "
            "single-shuffle shape the suite exists to prove.",
        ),
        (
            "pack_sequences",
            llm_extras.q_pack_sequences,
            "token-budget binning is one Exchange on the stratum key plus a "
            "running-sum Window; no join, no second shuffle.",
        ),
        (
            "sample_stratified",
            llm_extras.q_sample_stratified,
            "deterministic hash sampling is a pure narrow projection over "
            "the scan — zero exchanges; the keep decision never moves data.",
        ),
        (
            "text_pii_scrub",
            catalog_ext.q_text_pii_scrub,
            "five regexp counts + five-stage redaction compile into ONE "
            "whole-stage-codegen'd Project over the scan — zero exchanges; "
            "at 100 TB the scrub is embarrassingly parallel.",
        ),
        (
            "pipeline_extract",
            _pipeline_extract,
            "flagship gate (scalar projection since r3): extraction stays "
            "NARROW — pruned parquet scans (base fragments + injected "
            "malformed-turn branches) union straight into MapInArrow with no "
            "exchange before the Python tier; the ONLY shuffle is the "
            "sink-side stable (conv_id, turn_idx) range sort, after the "
            "per-turn work is done; the scalar projection (to_json spans, "
            "k:v CSV rule_hits) rides the final Project.",
        ),
        (
            "dedup_components",
            llm_extras.q_dedup_components,
            "each star round = two hash shuffles on the node key "
            "(large-star groupBy + small-star groupBy) over the edge "
            "relation only; labels never fan out through a window. The "
            "convergence cardinalities ride the round's checkpoint job as "
            "observe() metrics and the one-sided left_anti inclusion probe "
            "runs only when counts match (broadcast by AQE); edge relations "
            "are localCheckpointed per round to cut iterative lineage. NOTE: "
            "the driver loop runs every round while the DataFrame is built, "
            "so the plan below is the output clause only: docs nodes "
            "left-joined to the converged star forest (Scan ExistingRDD), "
            "then the docs-relative canonical min as a groupBy joined back.",
        ),
        (
            "text_decontaminate",
            catalog_ext.q_text_decontaminate,
            "per-doc shingling is a narrow higher-order-function map; the "
            "eval shingle set is DISTINCT-reduced then BroadcastExchange'd, "
            "so contamination counting is a broadcast hash join + partial "
            "agg — the corpus is never shuffled by shingle.",
        ),
    ]


HEADER = """# PLANS — physical-plan audit (captured from `.explain("formatted")`)

Evidence that the catalog queries produce the plans the 100 TB design calls
for. Regenerate with `python scripts/dump_plans.py`. Regression-guarded by
`tests/test_validate_and_plans.py` (pushdown, pruning, broadcast, no shuffle
in extraction, small LSH join keys, single-exchange window suite).

"""


def main() -> None:
    from pdf_extractor_spark.session import get_spark

    spark = get_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    sections = []
    for name, fn, note in _audited():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn(spark, "/root/testdata/sf0.01").explain("formatted")
        lines = buf.getvalue().splitlines()
        tree_end = next((i for i, l in enumerate(lines) if not l.strip()), len(lines))
        tree = "\n".join(lines[:tree_end])
        detail = "\n".join(
            l for l in lines if "PushedFilters" in l or "ReadSchema" in l
        )
        sections.append(f"## {name}\n\n{note}\n\n```\n{tree}\n{detail}\n```\n")
    (REPO / "PLANS.md").write_text(HEADER + "\n".join(sections))
    spark.stop()
    print(REPO / "PLANS.md")


if __name__ == "__main__":
    main()
