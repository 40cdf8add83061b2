"""The north-rule gate (SURVEY.md §5.2 #1): Spark pipeline output must equal
the plain-Python oracle byte-for-byte under stable (conv_id, turn_idx) order.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pdf_extractor_spark.operators.extract import extract_turns
from pdf_extractor_spark.operators.order import stable_turn_order
from pdf_extractor_spark.rules.oracle import extract_turn
from pdf_extractor_spark.schema import TRANSCRIPTS
from pdf_extractor_spark.sources.synth import generate_transcripts


@pytest.fixture(scope="module")
def transcripts() -> pd.DataFrame:
    return generate_transcripts(n_convs=40, seed=42)


def oracle_frame(transcripts: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for rec in transcripts.sort_values(["conv_id", "turn_idx"]).itertuples():
        r = extract_turn(rec.text)
        rows.append(
            {
                "conv_id": rec.conv_id,
                "turn_idx": rec.turn_idx,
                "family": r.family,
                "extracted_text": r.extracted_text,
                "spans": [(s, e, k) for (s, e, k) in r.spans],
                "rule_hits": dict(sorted(r.rule_hits.items())),
                "n_records": r.n_records,
                "valid": r.valid,
                "problem_reason": r.problem_reason,
            }
        )
    return pd.DataFrame(rows)


@pytest.mark.parametrize("path", ["extract_turns", "run_incremental"])
def test_spark_matches_oracle_byte_for_byte(spark, transcripts, run_job, path):
    golden = oracle_frame(transcripts)

    sdf = spark.createDataFrame(transcripts, schema=TRANSCRIPTS)
    if path == "run_incremental":
        ext = run_job(sdf, n_files=4).drop("src_key")
    else:
        ext = extract_turns(sdf, salt_partitions=8)
    out = stable_turn_order(ext).toPandas()

    assert len(out) == len(golden)
    assert list(out["conv_id"]) == list(golden["conv_id"])
    assert list(out["turn_idx"]) == list(golden["turn_idx"])
    # byte-for-byte text equality, the core invariant
    assert list(out["extracted_text"]) == list(golden["extracted_text"])
    assert list(out["family"]) == list(golden["family"])
    assert list(out["valid"]) == list(golden["valid"])
    assert [p if pd.notna(p) else None for p in out["problem_reason"]] == list(
        golden["problem_reason"]
    )
    # spans equality
    got_spans = [[(s["start"], s["end"], s["kind"]) for s in row] for row in out["spans"]]
    assert got_spans == list(golden["spans"])
    # rule-hit metrics equality
    got_hits = [dict(sorted(h.items())) for h in out["rule_hits"]]
    assert got_hits == list(golden["rule_hits"])


def test_every_family_appears(transcripts):
    fams = {extract_turn(t).family for t in transcripts["text"]}
    assert {
        "chase_visa", "chase_checking", "bofa_bank", "wf_mastercard", "wf_visa",
        "first_republic", "wf_bank_layout", "amazon_order", "csv_capitalone",
        "csv_wf_checking", "noisy_desc", "date_edges", "ledger_rows", "freeform",
        "html_page",
    } <= fams


import pytest


@pytest.mark.slow
def test_deep_corpus_byte_parity(spark):
    """10x corpus (300 convs, ~4.8k turns): broad rule-path sweep at the
    same byte-for-byte bar (catches low-probability branches the 40-conv
    corpus may miss: NBSP periods, gift cards, year boundaries, quarantines)."""
    deep = generate_transcripts(n_convs=300, seed=1337)
    golden = oracle_frame(deep)
    sdf = spark.createDataFrame(deep, schema=TRANSCRIPTS)
    out = stable_turn_order(extract_turns(sdf, salt_partitions=16)).toPandas()
    assert list(out["extracted_text"]) == list(golden["extracted_text"])
    assert list(out["valid"]) == list(golden["valid"])
    got_hits = [dict(sorted(h.items())) for h in out["rule_hits"]]
    assert got_hits == list(golden["rule_hits"])
    # the sweep must actually exercise the rare paths
    all_hits = {k for h in golden["rule_hits"] for k in h}
    assert {"p5_quarantined", "p6_footer_dropped"} <= all_hits


def test_contract_invariants(transcripts):
    """Ported from reference tests/test_parser_contracts.py: sign conventions,
    ISO date shape, required fields on the valid branch."""
    import re

    iso = re.compile(r"^\d{4}-\d{2}-\d{2}$")
    for t in transcripts["text"]:
        r = extract_turn(t)
        for line in r.extracted_text.split("\n") if r.extracted_text else []:
            if r.family in ("freeform", "noisy_desc", "html_page"):
                continue
            date, amount, desc, ttype = line.split("|")
            assert iso.match(date), (r.family, line)
            assert amount != ""
            assert desc != ""
            if ttype == "charge":
                assert float(amount) <= 0, (r.family, line)
            if ttype in ("credit", "deposit"):
                assert float(amount) >= 0, (r.family, line)
